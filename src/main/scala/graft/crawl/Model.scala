package graft.crawl

import graft.core.{RobotsTxt, ScopeFilter, Span}

/** One frontier row — Spark mapping of the reference's `PageToCrawl`
  * (`Abot/Poco/PageToCrawl.cs:8-91`). `seq` is the deterministic global FIFO
  * discovery sequence (the contract that replaces queue arrival order),
  * `wave` the BFS wave the entry is scheduled for.
  */
final case class FrontierEntry(
    url: String,
    url_hash: Long,
    host: String,
    parent_url: String,
    depth: Int,
    seq: Long,
    wave: Int,
    // retry bookkeeping (PageToCrawl.IsRetry/RetryCount/RetryAfter,
    // Abot/Poco/PageToCrawl.cs:8-91): a transiently-failed fetch (5xx /
    // network error) re-enters the NEXT wave, bypassing the seen gate,
    // until retry_count reaches CrawlConfig.maxRetries. retry_after_sec
    // records the server's Retry-After hint; the wave boundary itself is
    // the delay in this wave-synchronous model.
    is_retry: Boolean = false,
    retry_count: Int = 0,
    retry_after_sec: Int = 0,
    // redirect-chain bookkeeping (PageToCrawl.RedirectPosition,
    // Abot/Core/PageRequester.cs:86-141): a candidate reached via a 3xx
    // carries its position along the chain; chains longer than
    // CrawlConfig.maxRedirects are rejected (CrawlDecisionMaker.cs:38-77)
    redirect_position: Int = 0)

/** Synthetic fetch universe row (FIXTURES.md §2). `fail_first` simulates a
  * transient outage: the first N fetch ATTEMPTS of this url return 503
  * (deterministic in the attempt number, so engine and oracle agree with no
  * shared state).
  */
final case class SyntheticPage(
    url: String,
    host: String,
    status: Int,
    content_type: String,
    redirect_to: String, // nullable
    html: String,
    fail_first: Int = 0)

/** Raw fetch result rows — the output of the host-bucketed, politeness-
  * paced fetch stage, BEFORE extraction. Bodies are shuffled to a salted
  * even partitioning for the CPU-bound extract stage (hot-host skew applies
  * to fetch pacing, never to parsing — SURVEY.md §4).
  */
final case class FetchedPage(
    url: String,
    url_hash: Long,
    host: String,
    parent_url: String,
    seq: Long,
    depth: Int,
    wave: Int,
    status: Int,
    content_type: String,
    redirect_to: String,
    body: String,
    fetch_ms: Double,
    retry_count: Int,      // attempts already spent on this url
    retry_after_sec: Int,  // server Retry-After hint from THIS response
    redirect_position: Int, // position along a 3xx chain (0 = not via redirect)
    error_class: String = null,   // transport exception class (status < 0)
    error_message: String = null, // transport exception message
    error_stack: String = null,   // transport exception stack (first frames)
    // same-host <link rel=stylesheet> text fetched alongside the page,
    // capped (CssFetch.MaxCssChars) — feeds the hidden-element filter
    css: String = "",
    // stylesheet-fetch time, kept SEPARATE from fetch_ms so per-page fetch
    // latency stays comparable with pre-CSS rounds (ADVICE r05). NOTE: the
    // per-host wave budget (waveBudgetMs / crawlDelay) counts PAGES only;
    // up to MaxSheetsPerPage extra CSS requests per host per task are a
    // documented under-count (the per-partition cache makes them one per
    // sheet per task in practice)
    css_ms: Double = 0.0,
    // a frontier entry over its host's wave cap: not fetched, it carries
    // to the next wave (with its is_retry flag) instead of being extracted
    carry: Boolean = false,
    is_retry: Boolean = false)

/** Result of fetching+extracting one page inside the fetch mapPartitions. */
final case class PageResult(
    url: String,
    url_hash: Long,
    host: String,
    seq: Long,
    depth: Int,
    wave: Int,
    status: Int,
    content_type: String,
    title: String,
    spans: Seq[Span],
    out_links: Seq[String], // canonical, in-page-deduped, document order
    no_follow: Boolean,
    fetch_ms: Double,
    extract_ms: Double,
    partition_id: Int,
    total_words: Long, // per-doc local aggregate (A4) — no shuffle needed
    lang: String,      // per-doc argmax language (A3) — local fold
    is_error: Boolean, // F9 classification: non-200 except followable 3xx
    parent_url: String,
    retry_count: Int,
    retry_after_sec: Int,
    redirect_position: Int,
    content_chars: Int, // body size (chars) — the size-on-disk stop proxy
    css_ms: Double = 0.0, // stylesheet-fetch time (excluded from fetch_ms)
    // error detail (S9 errors log): transport exception class/message for
    // status < 0, "HttpStatus"/"HTTP <code>" for HTTP-level errors, nulls
    // on success — the WHY of each error row, persisted per wave
    error_class: String = null,
    error_message: String = null,
    error_stack: String = null,
    // the document's analyzable text items (DocAnalysis), folded once at
    // extract time for the wave's first-wins block dedup
    blocks: Seq[TextBlockRef] = Nil)

/** One analyzable text item of a fetched page: where it sits, its text
  * hash and its word count.
  */
final case class TextBlockRef(offset: Int, text_hash: Long, words: Int)

/** A text block's first occurrence in a wave: the owning page and its
  * words.
  */
final case class BlockRow(seq: Long, text_hash: Long, words: Int)

/** One extracted document row — the north-rule table shape
  * (doc_id, spans) plus analysis metadata.
  */
final case class DocumentRow(
    doc_id: String,
    spans: Seq[Span],
    title: String,
    lang: String,
    total_words: Long,
    unique_words: Long,
    wave: Int,
    seq: Long)

/** Per-partition crawl lineage + metrics row (north rule). */
final case class MetricsRow(
    wave: Int,
    partition_id: Int,
    pages: Long,
    errors: Long,
    words: Long,
    fetch_ms: Double,
    extract_ms: Double)

/** One candidate out-link row inside a wave (pre-seen-gate). `wave` is the
  * wave the link would be fetched in (its parent's wave + 1); `maybe_seen`
  * is the Bloom verdict: false only when the link's bucket filter rules
  * `seen` out, so only true rows pay the exact seen check.
  */
final case class CandidateLink(
    parent_seq: Long,
    parent_url: String,
    parent_depth: Int,
    link_index: Int,
    url: String,
    url_hash: Long,
    host: String,
    redirect_position: Int,
    wave: Int,
    maybe_seen: Boolean = true)

/** One hash-bucket's membership filter over seen url_hashes, persisted per
  * wave (the partition-local negative cache in front of the exact seen
  * anti-join; the exact set stays authoritative).
  *
  * `kind` realizes the north rule's representation fallback: buckets are
  * Bloom filters (KindBloom) until a maintenance operation retracts seen
  * entries from them ([[SeenMaintenance]]), at which point the affected
  * buckets transition to deletion-capable Cuckoo filters (KindCuckoo) and
  * subsequent retractions are incremental `remove()`s instead of rebuilds.
  *
  * Correctness contract: the filter may say "maybe present" for an absent
  * key (costs the exact anti-join) but must NEVER say "absent" for a
  * present key. Two cuckoo hazards break that — an insert that fails after
  * max kicks (it leaves an evicted fingerprint homeless) and a remove of a
  * fingerprint that was never inserted. Both are fenced by `saturated`:
  * a failed insert or unmatched remove permanently flips the bucket to
  * answer "maybe" for every key until the next rebuild.
  */
final case class FilterBucket(
    bucket: Int,
    kind: Int, // 0 = Bloom, 1 = Cuckoo
    num_bits: Long, // Bloom: bit count; Cuckoo: log2Buckets
    num_hashes: Int, // Bloom: hash count; Cuckoo: unused (0)
    count: Long, // items folded in (Cuckoo size bookkeeping)
    saturated: Boolean,
    bits: Array[Byte]) {
  import FilterBucket._

  def filter: graft.core.SeenFilter =
    if (saturated) AlwaysMaybe
    else if (kind == KindBloom)
      graft.core.BloomFilter64.fromBytes(num_bits, num_hashes, bits)
    else
      graft.core.CuckooFilter64.fromBytes(num_bits.toInt, count, bits)

  /** Fold new seen hashes in, preserving representation kind. */
  def addAll(hs: Iterator[Long]): FilterBucket =
    if (saturated) { hs.foreach(_ => ()); this } // drain; bucket already answers maybe-for-all
    else if (kind == KindBloom) {
      val bf = graft.core.BloomFilter64.fromBytes(num_bits, num_hashes, bits)
      var n = 0L
      hs.foreach { h => bf.add(h); n += 1 }
      FilterBucket(bucket, KindBloom, num_bits, num_hashes, count + n,
        saturated = false, bf.toBytes)
    } else {
      val cf = graft.core.CuckooFilter64.fromBytes(num_bits.toInt, count, bits)
      var sat = false
      hs.foreach { h => if (!cf.add(h)) sat = true }
      FilterBucket(bucket, KindCuckoo, num_bits, num_hashes, cf.size, sat, cf.toBytes)
    }

  /** Retract hashes (Cuckoo buckets only — callers rebuild Bloom buckets).
    * Every hash MUST be verified present in the authoritative seen set:
    * then its fingerprint copy exists and removal cannot starve another
    * key (duplicate fingerprints keep one copy per remaining inserter).
    */
  def removeAll(hs: Iterator[Long]): FilterBucket = {
    require(kind == KindCuckoo, "removeAll on a Bloom bucket — rebuild instead")
    if (saturated) { hs.foreach(_ => ()); this }
    else {
      val cf = graft.core.CuckooFilter64.fromBytes(num_bits.toInt, count, bits)
      var sat = false
      hs.foreach { h => if (!cf.remove(h)) sat = true } // unmatched remove: fence
      FilterBucket(bucket, KindCuckoo, num_bits, num_hashes, cf.size, sat, cf.toBytes)
    }
  }
}

object FilterBucket {
  val KindBloom = 0
  val KindCuckoo = 1

  /** Saturated buckets answer "maybe" for every key — always safe. */
  object AlwaysMaybe extends graft.core.SeenFilter {
    def mightContain(key: Long): Boolean = true
  }

  def of(bucket: Int, bf: graft.core.BloomFilter64, count: Long = 0L): FilterBucket =
    FilterBucket(bucket, KindBloom, bf.numBits, bf.numHashes, count,
      saturated = false, bf.toBytes)

  def ofCuckoo(bucket: Int, cf: graft.core.CuckooFilter64,
      saturated: Boolean = false): FilterBucket =
    FilterBucket(bucket, KindCuckoo, cf.log2Buckets.toLong, 0, cf.size,
      saturated, cf.toBytes)
}

/** Per-host state (robots rules + politeness), persisted per wave. */
final case class HostState(
    host: String,
    crawl_delay_ms: Long,
    robots_txt: String, // raw content; "" when absent
    discovered_wave: Int)

final case class CrawlConfig(
    rootUrl: String,
    scope: ScopeFilter.Scope = ScopeFilter.SubDomain,
    userAgent: String = "graftbot",
    maxDepth: Int = 1000,
    maxLinksPerPage: Int = 1000,
    maxPagesToCrawl: Long = 0L, // 0 = unlimited (CrawlDecisionMaker.cs:56-63)
    maxPagesPerDomain: Long = 0L, // 0 = unlimited (CrawlDecisionMaker.cs:64-71)
    maxErrors: Long = 0L, // 0 = unlimited (maxErrorsCount default 10 in ref)
    // transient-failure retries (WebCrawler.cs:837-875 re-add path): a 5xx
    // or network error re-enters the next wave up to maxRetries attempts;
    // 0 disables. Every failed ATTEMPT still counts toward maxErrors.
    maxRetries: Int = 0,
    // remaining reference stop conditions (WebsiteTextExtractor.cs:647-766):
    // wall-clock duration in minutes (engine-side only — the oracle has no
    // clock), and total extracted content size. The reference measures
    // bytes written to disk; this engine writes no per-doc files, so the
    // proxy is cumulative fetched-body size in chars (parity-exact between
    // engine and oracle).
    maxDurationMin: Int = 0,
    maxContentChars: Long = 0L,
    // reject candidates whose 3xx chain exceeds this many hops
    // (Abot CrawlConfiguration.HttpRequestMaxAutoRedirects default 7)
    maxRedirects: Int = 7,
    minUniquePct: Double = 0.0, // 0 = off; reference minUniqueText=5 (%)
    minCrawlDelayMs: Long = 100L,
    maxRobotsDelaySec: Int = 5, // robots crawl-delay clamp (PoliteWebCrawler.cs:103-115)
    waveBudgetMs: Long = 60000L, // politeness budget per host per wave
    maxWaves: Int = 100,
    // Bloom negative-cache in front of the exact seen anti-join (the exact
    // set stays authoritative; reference sizing 2,000,001 @ 0.1% FPR,
    // Abot/Core/BloomFilterCrawledUrlRepository.cs:19). 0 disables.
    bloomCapacity: Long = 2000001L,
    bloomFpr: Double = 0.001,
    // hybrid engage threshold: below this many SEEN rows the exact
    // anti-join is already cheap and the per-wave filter apply/update is
    // pure fixed overhead (measured ~6 s/wave at local[24]); at/above it
    // the partition-local filters pay for themselves. The broadcast-vs-
    // shuffle-join selection analog. 0 = always engage (parity tests).
    bloomMinSeenRows: Long = 200000L,
    // fold the grow-only set tables (seen, unique_blocks) into one
    // partition every N committed waves (0 = off): a W-wave crawl
    // otherwise pays O(W) partition listings per read — long crawls want
    // this on (SeenMaintenance.compactWith, atomic generation flip)
    compactEveryWaves: Int = 0,
    // request-log table (S9 analog of the reference's 13-column request log,
    // WebsiteTextExtractor.cs:415-474); off in benchmarks
    logFetches: Boolean = true,
    // bench-only knob: fixed busy-work per extracted page, standing in for
    // the parse cost of realistically-sized pages (synthetic fixtures are
    // tiny); 0 in all correctness paths
    simulatedExtractCostNanos: Long = 0L) {

  /** Effective per-host delay: max(minCrawlDelay, clamp(robots delay, 5s)) —
    * `DomainRateLimiter.cs:42-66` + `PoliteWebCrawler.cs:103-115`.
    */
  def effectiveDelayMs(robotsDelaySec: Int): Long = {
    val clamped = math.min(robotsDelaySec, maxRobotsDelaySec).toLong * 1000L
    math.max(minCrawlDelayMs, clamped)
  }

  /** Per-host pages-per-wave cap from the politeness budget — a hot host is
    * serialized by its crawl delay by definition, so it may contribute at
    * most budget/delay fetches per wave; the rest carries over. This is the
    * scheduling-level skew control from SURVEY.md §4.
    */
  def maxPagesPerHostPerWave(robotsDelaySec: Int): Int =
    math.max(1L, waveBudgetMs / effectiveDelayMs(robotsDelaySec)).toInt
}

/** Compiled robots state shared by engine and oracle. */
final case class CompiledRobots(parsed: RobotsTxt.Parsed) {
  def allowed(pathAndQuery: String, ua: String): Boolean = parsed.allowed(pathAndQuery, ua)
  def crawlDelaySec(ua: String): Int = parsed.crawlDelaySec(ua)
}

object CompiledRobots {
  val Empty: CompiledRobots = CompiledRobots(RobotsTxt.Empty)
  def of(content: String): CompiledRobots =
    if (content == null || content.isEmpty) Empty else CompiledRobots(RobotsTxt.parse(content))
}

/** Executor-side compiled-robots memo for the per-row candidate filter:
  * robots matching is a JOIN of candidates against the hosts table on
  * `host` (the robots_txt column rides the join), so the pure matcher
  * runs per candidate row — this memo makes the parse amortize to once
  * per distinct robots body per thread. Keyed by the robots TEXT (never
  * the host) so a host whose robots change across crawls in one JVM can
  * never be served stale rules, and thread-local so 32 concurrent tasks
  * share nothing (no lock on the hot path). Bounded LRU: memory is
  * O(256 parsed rule sets) per thread regardless of crawl age.
  */
object RobotsCache {
  private val local =
    new ThreadLocal[java.util.LinkedHashMap[String, RobotsTxt.Parsed]] {
      override def initialValue() =
        new java.util.LinkedHashMap[String, RobotsTxt.Parsed](64, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, RobotsTxt.Parsed]): Boolean =
            size() > 256
        }
    }

  def compiled(txt: String): RobotsTxt.Parsed = {
    if (txt == null || txt.isEmpty) RobotsTxt.Empty
    else {
      val m = local.get()
      var p = m.get(txt)
      if (p == null) { p = RobotsTxt.parse(txt); m.put(txt, p) }
      p
    }
  }
}

/** CrawlConfig ↔ JSON for warehouse persistence — the reference's
  * `_wordslab/config.txt` round-trip (`WebsiteExtractorParams.cs:139-199`):
  * a resumed crawl re-reads its persisted parameters and re-applies any
  * caller overrides, instead of requiring the caller to re-supply an
  * identical config. Hand-rolled (flat fields, no JSON lib in scope).
  */
object CrawlConfigCodec {

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  def toJson(c: CrawlConfig): String = {
    val scope = c.scope match {
      case ScopeFilter.Domain => "domain"
      case ScopeFilter.SubDomain => "subdomain"
      case ScopeFilter.Path => "path"
    }
    s"""{"rootUrl":"${esc(c.rootUrl)}","scope":"$scope","userAgent":"${esc(c.userAgent)}",""" +
      s""""maxDepth":${c.maxDepth},"maxLinksPerPage":${c.maxLinksPerPage},""" +
      s""""maxPagesToCrawl":${c.maxPagesToCrawl},"maxPagesPerDomain":${c.maxPagesPerDomain},""" +
      s""""maxErrors":${c.maxErrors},"maxRetries":${c.maxRetries},""" +
      s""""maxDurationMin":${c.maxDurationMin},"maxContentChars":${c.maxContentChars},""" +
      s""""maxRedirects":${c.maxRedirects},"minUniquePct":${c.minUniquePct},""" +
      s""""minCrawlDelayMs":${c.minCrawlDelayMs},"maxRobotsDelaySec":${c.maxRobotsDelaySec},""" +
      s""""waveBudgetMs":${c.waveBudgetMs},"maxWaves":${c.maxWaves},""" +
      s""""bloomCapacity":${c.bloomCapacity},"bloomFpr":${c.bloomFpr},""" +
      s""""bloomMinSeenRows":${c.bloomMinSeenRows},""" +
      s""""compactEveryWaves":${c.compactEveryWaves},""" +
      s""""logFetches":${c.logFetches}}"""
  }

  def fromJson(json: String): CrawlConfig = {
    def str(k: String): String =
      ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
        .findFirstMatchIn(json).map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
        .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    def num(k: String): String =
      ("\"" + k + "\"\\s*:\\s*([-0-9.eE]+|true|false)").r
        .findFirstMatchIn(json).map(_.group(1))
        .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    // fields added after round 6: absent in older warehouses' config.json
    def numOr(k: String, d: String): String =
      ("\"" + k + "\"\\s*:\\s*([-0-9.eE]+|true|false)").r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse(d)
    val scope = str("scope") match {
      case "domain" => ScopeFilter.Domain
      case "subdomain" => ScopeFilter.SubDomain
      case "path" => ScopeFilter.Path
    }
    CrawlConfig(
      rootUrl = str("rootUrl"), scope = scope, userAgent = str("userAgent"),
      maxDepth = num("maxDepth").toInt,
      maxLinksPerPage = num("maxLinksPerPage").toInt,
      maxPagesToCrawl = num("maxPagesToCrawl").toLong,
      maxPagesPerDomain = num("maxPagesPerDomain").toLong,
      maxErrors = num("maxErrors").toLong,
      maxRetries = num("maxRetries").toInt,
      maxDurationMin = num("maxDurationMin").toInt,
      maxContentChars = num("maxContentChars").toLong,
      maxRedirects = num("maxRedirects").toInt,
      minUniquePct = num("minUniquePct").toDouble,
      minCrawlDelayMs = num("minCrawlDelayMs").toLong,
      maxRobotsDelaySec = num("maxRobotsDelaySec").toInt,
      waveBudgetMs = num("waveBudgetMs").toLong,
      maxWaves = num("maxWaves").toInt,
      bloomCapacity = num("bloomCapacity").toLong,
      bloomFpr = num("bloomFpr").toDouble,
      bloomMinSeenRows = num("bloomMinSeenRows").toLong,
      compactEveryWaves = numOr("compactEveryWaves", "0").toInt,
      logFetches = num("logFetches").toBoolean)
  }
}
