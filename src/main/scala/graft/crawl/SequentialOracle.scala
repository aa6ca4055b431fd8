package graft.crawl

import graft.core.{ScopeFilter, TextStats, UrlCanonicalizer}
import graft.extract.DocAnalysis
import scala.collection.mutable

/** Plain-Scala sequential reference crawler (FIXTURES.md §5): FIFO frontier
  * + AddIfNew seen-gate + scope/robots filters + per-host politeness caps +
  * first-wins text dedup, at the reference's single-logical-thread semantics
  * (`Abot/Core/Scheduler.cs:151-194`, `Abot/Crawler/WebCrawler.cs:955-999` at
  * MaxConcurrentThreads=1), expressed wave-synchronously.
  *
  * Its outputs — crawl order (seq→url per wave), final URL-seen set, and
  * per-document span sequences — are the expected values the Spark engine
  * must reproduce exactly.
  *
  * Deliberate, documented contract choices (shared with the engine):
  *  - redirects (3xx) are modeled as a single candidate link to the target
  *    (the reference follows them inside the HTTP request);
  *  - maxLinksPerPage caps *scheduled* links per page, but every candidate
  *    still becomes "known" (the reference `break`s out of the loop;
  *    fixtures keep fan-out below the cap so the paths agree);
  *  - crawl ordering is the deterministic wave/seq order (the reference is
  *    only deterministic at 1 thread — SURVEY.md §5.3).
  */
object SequentialOracle {

  final case class Result(
      crawlOrder: Vector[FrontierEntry], // in fetch order (wave asc, seq asc)
      seen: Set[Long],
      documents: Vector[DocumentRow],
      errors: Vector[String],
      uniqueBlocks: Map[Long, Int],
      stopReason: String = "frontier_empty",
      excludedPrefixes: Vector[String] = Vector.empty)

  def crawl(site: SyntheticWeb.Site, config: CrawlConfig): Result = {
    val rootCanon = UrlCanonicalizer.canonicalize(config.rootUrl).get
    val seen = mutable.Set[Long](UrlCanonicalizer.urlHash(rootCanon))
    val uniqueBlocks = mutable.LinkedHashMap.empty[Long, Int]
    val docs = Vector.newBuilder[DocumentRow]
    val order = Vector.newBuilder[FrontierEntry]
    val errors = Vector.newBuilder[String]
    val robotsCache = mutable.Map.empty[String, CompiledRobots]
    val cssCache = mutable.Map.empty[String, String]

    def robotsOf(host: String): CompiledRobots =
      robotsCache.getOrElseUpdate(host, CompiledRobots.of(site.robots.getOrElse(host, "")))

    var frontier = Vector(FrontierEntry(
      rootCanon, UrlCanonicalizer.urlHash(rootCanon), UrlCanonicalizer.host(rootCanon),
      "", 0, 0L, 0))
    var nextSeq = 1L
    var wave = 0
    // stop-condition state (wave-synchronous contract shared with the engine)
    var pagesCrawled = 0L
    var errorCount = 0L
    var contentChars = 0L
    var crawledByHost = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var excludedPrefixes = Vector.empty[String]
    var stopReason = "frontier_empty"
    // rolling last-10 fetched-HTML-pages uniqueness window (W1/A6)
    val lastDocsPct = mutable.ArrayBuffer.empty[(String, Double)] // (url, pct)

    var stopped = false
    while (!stopped && frontier.nonEmpty && wave < config.maxWaves) {
      // politeness: per-host cap, fetch in seq order, rest carries over;
      // per-domain budget drops (not carries) entries beyond the cap (O3)
      val byHost = frontier.groupBy(_.host)
      val due0 = mutable.ArrayBuffer.empty[FrontierEntry]
      val carry = mutable.ArrayBuffer.empty[FrontierEntry]
      byHost.foreach { case (host, entries) =>
        var cap = config.maxPagesPerHostPerWave(robotsOf(host).crawlDelaySec(config.userAgent)).toLong
        val domainAllowance =
          if (config.maxPagesPerDomain > 0) math.max(0L, config.maxPagesPerDomain - crawledByHost(host))
          else Long.MaxValue
        val sorted = entries.sortBy(_.seq).take(
          if (domainAllowance == Long.MaxValue) Int.MaxValue else domainAllowance.toInt)
        due0 ++= sorted.take(math.min(cap, Int.MaxValue).toInt)
        carry ++= sorted.drop(math.min(cap, Int.MaxValue).toInt).map(e => e.copy(wave = wave + 1))
      }
      // global page budget truncates in seq order (wave-level MaxPagesToCrawl)
      val due1 = due0.sortBy(_.seq)
      val due = if (config.maxPagesToCrawl > 0) {
        val budget = math.max(0L, config.maxPagesToCrawl - pagesCrawled)
        due1.take(budget.toInt)
      } else due1
      val newFrontier = mutable.ArrayBuffer.empty[FrontierEntry]

      due.foreach { entry =>
        order += entry
        pagesCrawled += 1
        crawledByHost(entry.host) += 1

        // `links` are the page's canonical out-links, in-page deduped in
        // document order (CrawlEngine.extractPage)
        def scheduleCandidates(links: Vector[String], redirectPos: Int): Unit = {
          var scheduled = 0
          links.foreach { canon =>
            val h = UrlCanonicalizer.urlHash(canon)
            if (!seen.contains(h)) {
              val cHost = UrlCanonicalizer.host(canon)
              val pass = entry.depth + 1 <= config.maxDepth &&
                ScopeFilter.shouldCrawl(config.scope, canon, rootCanon) &&
                robotsOf(cHost).allowed(UrlCanonicalizer.pathAndQuery(canon), config.userAgent) &&
                !excludedPrefixes.exists(canon.startsWith) &&
                redirectPos <= config.maxRedirects && // 3xx chain bound
                scheduled < config.maxLinksPerPage
              seen += h
              if (pass) {
                newFrontier += FrontierEntry(canon, h, cHost, entry.url,
                  entry.depth + 1, nextSeq, wave + 1,
                  redirect_position = redirectPos)
                nextSeq += 1
                scheduled += 1
              }
            }
          }
        }

        // transient-failure retry (WebCrawler.cs:837-875): 5xx re-enters the
        // next wave with retry_count+1 and its ORIGINAL seq, bypassing the
        // seen gate; every failed attempt still counts toward maxErrors
        def maybeRetry(retryAfterSec: Int): Unit = {
          if (config.maxRetries > 0 && entry.retry_count < config.maxRetries) {
            newFrontier += entry.copy(wave = wave + 1, is_retry = true,
              retry_count = entry.retry_count + 1, retry_after_sec = retryAfterSec)
          }
        }

        site.pages.get(entry.url) match {
          case None =>
            errors += s"404 ${entry.url}"
            errorCount += 1
          case Some(page) if page.fail_first > entry.retry_count =>
            // transient outage window (SyntheticFetcher: 503, Retry-After 1)
            errors += s"503 ${entry.url}"
            errorCount += 1
            maybeRetry(1)
          case Some(page) =>
            // content-size accumulation (size-on-disk proxy): every served
            // body counts, chars — exactly what the engine sums over PageResult
            if (page.html != null) contentChars += page.html.length
            // error classification as the engine's: any non-200 except a
            // followable redirect
            val redirect = page.status >= 300 && page.status < 400 && page.redirect_to != null
            if (page.status != 200 && !redirect) {
              errors += s"${page.status} ${entry.url}"
              errorCount += 1
              if (page.status >= 500) maybeRetry(0)
            }
            val html = page.status == 200 && page.content_type == "text/html"
            // same-host stylesheet evaluation, mirroring the engine's
            // CssFetch path (the oracle "fetches" from the site map)
            // CSS fetches are single-shot (attempt 0, no retry loop) in
            // the engine, so a fail_first sheet is a 503 to BOTH sides
            val css = if (!html) "" else CssFetch.cssFor(page.html, entry.url, entry.host,
              u => site.pages.get(u) match {
                case Some(p) if p.fail_first > 0 => (503, "text/html", "")
                case Some(p) => (p.status, p.content_type, p.html)
                case None => (404, "", "")
              }, cssCache)
            val content = CrawlEngine.extractPage(entry.url, page.status,
              page.content_type, page.redirect_to, page.html, css)
            // first-wins text-block dedup across the whole crawl (D3): only
            // 200 HTML and PDF pages have spans
            val items = DocAnalysis.analyzableItems(content.spans)
            var totalWords = 0L
            var uniqueWords = 0L
            items.foreach { it =>
              totalWords += it.words
              if (!uniqueBlocks.contains(it.text_hash)) {
                uniqueBlocks(it.text_hash) = it.words
                uniqueWords += it.words
              }
            }
            if (uniqueWords > 0) {
              docs += DocumentRow(entry.url, content.spans, content.title,
                DocAnalysis.docLanguage(items), totalWords, uniqueWords, wave, entry.seq)
            }
            // PDFs are not part of the html-only uniqueness window
            if (html) lastDocsPct += ((entry.url,
              if (totalWords > 0) uniqueWords.toDouble / totalWords else 0.0))
            scheduleCandidates(content.links, if (redirect) entry.redirect_position + 1 else 0)
        }
      }

      frontier = (carry ++ newFrontier).sortBy(_.seq).toVector
      wave += 1

      // ---- wave-boundary stop cascade (WebsiteTextExtractor.cs:642-766) --
      // reference order: duration (engine-only) → pages → errors →
      // minUnique → size-on-disk
      if (config.maxPagesToCrawl > 0 && pagesCrawled >= config.maxPagesToCrawl) {
        stopped = true; stopReason = "max_pages"
      } else if (config.maxErrors > 0 && errorCount >= config.maxErrors) {
        stopped = true; stopReason = "max_errors"
      } else if (config.minUniquePct > 0 && lastDocsPct.size >= 10) {
        val last10 = lastDocsPct.takeRight(10)
        val avgPct = last10.map(_._2).sum / 10.0 * 100.0
        if (avgPct < config.minUniquePct) {
          // auto-exclude: longest common URL prefix of the last 10 pages
          // (WebsiteTextExtractor.cs:697-747); stop if no useful prefix
          val urls = last10.map(_._1)
          val lcp = urls.reduce { (a, b) =>
            a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1).mkString }
          val rootPrefix = rootCanon.take(rootCanon.indexOf('/', 8) + 1)
          if (lcp.length > rootPrefix.length && !excludedPrefixes.contains(lcp)) {
            excludedPrefixes :+= lcp
            // retroactively filter the pending frontier (Scheduler.cs:123-139)
            frontier = frontier.filterNot(e => lcp.nonEmpty && e.url.startsWith(lcp))
            lastDocsPct.clear() // reference resets its window after excluding
          } else {
            stopped = true; stopReason = "min_unique_text"
          }
        }
      }
      if (!stopped && config.maxContentChars > 0 && contentChars >= config.maxContentChars) {
        stopped = true; stopReason = "max_size_on_disk"
      }
    }
    if (!stopped && wave >= config.maxWaves && frontier.nonEmpty) stopReason = "max_waves"

    Result(order.result(), seen.toSet, docs.result(), errors.result(), uniqueBlocks.toMap,
      stopReason, excludedPrefixes)
  }
}
