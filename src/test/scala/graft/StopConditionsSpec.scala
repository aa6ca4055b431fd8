package graft

import graft.core.ScopeFilter
import graft.crawl._
import org.scalatest.funsuite.AnyFunSuite

/** Stop-condition cascade + crawl caps (WebsiteTextExtractor.cs:638-767,
  * CrawlDecisionMaker.cs:56-71): engine must stop at the same point, with
  * the same reason and the same crawled set, as the sequential oracle.
  */
class StopConditionsSpec extends AnyFunSuite with CrawlFixture {

  private val site = SyntheticWeb.generate(
    SyntheticWeb.Spec(hosts = 2, pagesPerHost = 8, hotHostFactor = 2, fanout = 3))

  private def runBoth(config: CrawlConfig): (SequentialOracle.Result, TableIO, CrawlEngine) = {
    val oracle = SequentialOracle.crawl(site, config)
    val io = new TableIO(freshWarehouse("graft-stop"), spark)
    val engine = engineOn(io, site, config)
    engine.run()
    (oracle, io, engine)
  }

  /** `engine.run()` one wave at a time, checking after every committed
    * wave (exclude waves included) that the manifest's next_frontier is
    * the row count of the staged next-frontier partition.
    */
  private def runCheckingFrontier(engine: CrawlEngine, io: TableIO): Unit =
    while (engine.run(1) > 0) {
      val cw = io.committedWave
      val staged = io.readWave("frontier", cw + 1, TableIO.FrontierSchema, lookahead = 1).count()
      assert(io.stat("next_frontier").contains(staged), s"after wave $cw")
    }

  /** `(doc_id, seq)` of every document. */
  private def docSeqs(docs: Seq[DocumentRow]): Set[(String, Long)] =
    docs.map(d => (d.doc_id, d.seq)).toSet

  test("maxPagesToCrawl: engine stops at the cap with the oracle's exact pages") {
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      maxPagesToCrawl = 7, maxWaves = 30)
    val (oracle, io, engine) = runBoth(config)
    assert(oracle.stopReason == "max_pages")
    assert(engine.stopReason.contains("max_pages"))
    assert(oracle.crawlOrder.size == 7)
    val pages = io.stat("pages_total")
    assert(pages.contains(7L), s"engine crawled $pages")
    assert(io.readAll("metrics", TableIO.MetricsSchema)
      .agg(org.apache.spark.sql.functions.sum("pages")).head().getLong(0) == 7L)
    // exactly the same pages at the same seq
    assert(docSeqs(docsOf(io)) == docSeqs(oracle.documents))
  }

  test("maxErrors: dead links trip the error budget identically") {
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      maxErrors = 1, maxWaves = 30)
    val (oracle, io, engine) = runBoth(config)
    assert(oracle.stopReason == "max_errors", s"oracle stopped: ${oracle.stopReason}")
    assert(engine.stopReason.contains("max_errors"))
    assert(docSeqs(docsOf(io)) == docSeqs(oracle.documents))
  }

  test("maxPagesPerDomain: per-host budget respected, parity holds") {
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      maxPagesPerDomain = 4, maxWaves = 30)
    val (oracle, io, engine) = runBoth(config)
    val byHost = oracle.crawlOrder.groupBy(_.host).view.mapValues(_.size)
    assert(byHost.values.forall(_ <= 4), s"oracle exceeded domain cap: $byHost")
    assert(byHost.values.exists(_ == 4), "cap never bound — fixture too small")
    assert(docSeqs(docsOf(io)) == docSeqs(oracle.documents))
  }

  test("minUniqueText: boilerplate-only site triggers auto-exclude then stop, in parity") {
    // a site of near-identical pages: after the first few, rolling uniqueness
    // collapses below the threshold
    val pages = (0 until 30).map { j =>
      val url = s"https://dup.example.com/p$j.html"
      val html =
        s"""<html><head><title>t$j</title></head><body>
           |<p>shared boilerplate text that never changes</p>
           |<p>second shared paragraph of entirely duplicate content</p>
           |<p><a href="/p${j + 1}.html">next</a></p>
           |</body></html>""".stripMargin
      url -> SyntheticPage(url, "dup.example.com", 200, "text/html", null, html)
    }.toMap
    val dupSite = SyntheticWeb.Site(pages, Map("dup.example.com" -> ""),
      Map.empty, "https://dup.example.com/p0.html")
    val config = CrawlConfig(rootUrl = dupSite.rootUrl, scope = ScopeFilter.Domain,
      minUniquePct = 50.0, maxWaves = 40)
    val oracle = SequentialOracle.crawl(dupSite, config)
    // the rolling window collapses after 10 pages; the auto-exclude fires on
    // the common prefix ".../p", which empties the pending frontier — the
    // crawl halts early either way (exclusion beats the hard stop here)
    assert(oracle.crawlOrder.size < 30, "oracle crawled everything")
    assert(oracle.excludedPrefixes.nonEmpty, "auto-exclude never fired")

    val io = new TableIO(freshWarehouse("graft-uniq"), spark)
    val engine = engineOn(io, dupSite, config)
    runCheckingFrontier(engine, io)
    val enginePages = io.stat("pages_total").get
    assert(enginePages == oracle.crawlOrder.size,
      s"engine crawled $enginePages vs oracle ${oracle.crawlOrder.size}")
    val engineExcl = io.readWave("excludes", io.committedWave, TableIO.ExcludesSchema)
      .collect().map(_.getString(0)).toVector
    assert(engineExcl == oracle.excludedPrefixes,
      s"engine=$engineExcl oracle=${oracle.excludedPrefixes}")
    // halted crawl stays halted across resume (empty frontier)
    assert(engineOn(io, dupSite, config).run() == 0)
  }

  test("auto-exclude: a low-uniqueness URL-prefix family is excluded, crawl continues") {
    // host with good content at /p*.html plus a duplicate-content family at
    // /boiler/b*.html — the rolling window should auto-exclude the family
    // prefix and keep crawling the good pages
    val good = (0 until 12).map { j =>
      val url = s"https://mix.example.com/p$j.html"
      val links = ((j + 1) to math.min(j + 3, 11)).map(t => s"""<a href="/p$t.html">n</a>""").mkString +
        (if (j == 0) (0 until 12).map(b => s"""<a href="/boiler/b$b.html">b</a>""").mkString else "")
      url -> SyntheticPage(url, "mix.example.com", 200, "text/html", null,
        s"""<html><head><title>g$j</title></head><body>
           |<p>unique content alpha $j beta ${j * 31} gamma ${j * 17}</p>
           |<p>$links</p></body></html>""".stripMargin)
    }
    val boiler = (0 until 12).map { b =>
      val url = s"https://mix.example.com/boiler/b$b.html"
      url -> SyntheticPage(url, "mix.example.com", 200, "text/html", null,
        s"""<html><head><title>b$b</title></head><body>
           |<p>identical boilerplate body</p></body></html>""".stripMargin)
    }
    val mixSite = SyntheticWeb.Site((good ++ boiler).toMap,
      Map("mix.example.com" -> ""), Map.empty, "https://mix.example.com/p0.html")
    val config = CrawlConfig(rootUrl = mixSite.rootUrl, scope = ScopeFilter.Domain,
      minUniquePct = 30.0, waveBudgetMs = 1400L, maxWaves = 60)
    val oracle = SequentialOracle.crawl(mixSite, config)
    // a 14-page host cap: wave 1 ends on ten boilerplate pages, so the
    // family is excluded, and the one carried boilerplate page with it
    assert(oracle.excludedPrefixes == Vector("https://mix.example.com/boiler/b"))
    assert(oracle.crawlOrder.size == 23, "the carried page was not excluded")

    val io = new TableIO(freshWarehouse("graft-excl"), spark)
    val engine = engineOn(io, mixSite, config)
    runCheckingFrontier(engine, io)

    val expectedStop = oracle.stopReason match {
      case "frontier_empty" => None
      case r => Some(r)
    }
    assert(engine.stopReason == expectedStop,
      s"engine=${engine.stopReason} oracle=${oracle.stopReason}")
    val engineExcludes = io.readWave("excludes", io.committedWave, TableIO.ExcludesSchema)
      .collect().map(_.getString(0)).toVector
    assert(engineExcludes == oracle.excludedPrefixes,
      s"engine=$engineExcludes oracle=${oracle.excludedPrefixes}")
    assert(docSeqs(docsOf(io)) == docSeqs(oracle.documents))
  }

  test("maxContentChars: size-on-disk stop fires at the same point as the oracle") {
    // every page serves ~same-sized bodies; a low cap stops the crawl early
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      maxContentChars = 4000L, maxWaves = 40)
    val (oracle, io, engine) = runBoth(config)
    assert(oracle.stopReason == "max_size_on_disk")
    assert(engine.stopReason.contains("max_size_on_disk"))
    assert(io.stat("pages_total").contains(oracle.crawlOrder.size.toLong))
    assert(io.stat("content_chars_total").exists(_ >= 4000L))
  }

  test("maxDurationMin: wall-clock stop with an injected clock (engine-side)") {
    // clock jumps 10 minutes per call: the first wave-boundary check is
    // already past a 5-minute budget
    var t = 0L
    val clock = () => { t += 600000L; t }
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      maxDurationMin = 5, maxWaves = 40)
    val io = new TableIO(freshWarehouse("graft-dur"), spark)
    val engine = engineOn(io, site, config, nowMs = clock)
    engine.run()
    assert(engine.stopReason.contains("max_duration"))
    // a stopped crawl stays stopped on resume
    assert(engineOn(io, site, config, nowMs = clock).run() == 0)
  }

  test("redirect chains beyond maxRedirects are rejected, in parity") {
    val host = "chain.example.com"
    def u(p: String) = s"https://$host/$p"
    val chainLen = 9
    val redirects = (0 until chainLen).map { i =>
      u(s"r$i.html") -> SyntheticPage(u(s"r$i.html"), host, 301, "text/html",
        u(s"r${i + 1}.html"), "")
    }.toMap
    val terminal = u(s"r$chainLen.html") -> SyntheticPage(u(s"r$chainLen.html"),
      host, 200, "text/html", null,
      "<html><body><p>the page at the end of the chain</p></body></html>")
    val root = u("index.html") -> SyntheticPage(u("index.html"), host, 200,
      "text/html", null,
      """<html><body><p>root page text</p><a href="/r0.html">c</a></body></html>""")
    val chainSite = SyntheticWeb.Site(redirects + terminal + root,
      Map(host -> ""), Map.empty, u("index.html"))

    // cap 3: the chain is cut at r4 (redirect_position 4 > 3); terminal
    // page never reached
    val capped = CrawlConfig(rootUrl = chainSite.rootUrl,
      scope = ScopeFilter.Domain, maxRedirects = 3, maxWaves = 40)
    val oc = SequentialOracle.crawl(chainSite, capped)
    assert(!oc.documents.exists(_.doc_id.endsWith(s"r$chainLen.html")))
    assert(oc.crawlOrder.size < chainLen + 2, s"chain not cut: ${oc.crawlOrder.size}")
    val ioc = crawl(freshWarehouse("graft-chain"), chainSite, capped)
    assert(seenOf(ioc) == oc.seen)
    assert(ioc.stat("pages_total").contains(oc.crawlOrder.size.toLong))

    // default cap 7 < chain 9: still cut; a generous cap 20 reaches the end
    val open = CrawlConfig(rootUrl = chainSite.rootUrl,
      scope = ScopeFilter.Domain, maxRedirects = 20, maxWaves = 40)
    val oo = SequentialOracle.crawl(chainSite, open)
    assert(oo.documents.exists(_.doc_id.endsWith(s"r$chainLen.html")))
    val ioo = crawl(freshWarehouse("graft-chain2"), chainSite, open)
    assert(docSeqs(docsOf(ioo)) == docSeqs(oo.documents))
  }

  test("bot-protection wall (X-DataDome analog) aborts the crawl") {
    // a fetcher that answers every non-root page with the bot-wall sentinel
    val walled = new WalledFetcher(site.pages, site.robots, site.rootUrl)
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      maxWaves = 40)
    val io = new TableIO(freshWarehouse("graft-wall"), spark)
    val engine = new CrawlEngine(spark, io, config, walled, numPartitions = 4)
    engine.run()
    assert(engine.stopReason.contains("bot_protection"))
    // stays stopped on resume
    val engine2 = new CrawlEngine(spark, io, config, walled, numPartitions = 4)
    assert(engine2.run() == 0)
  }

  private def retrySite: SyntheticWeb.Site = {
    val host = "retry.example.com"
    def html(links: Seq[String], text: String) =
      s"""<html><head><title>t</title></head><body><p>$text</p>
         |${links.map(l => s"""<a href="$l">x</a>""").mkString}</body></html>""".stripMargin
    val pages = Map(
      s"https://$host/p0.html" -> SyntheticPage(s"https://$host/p0.html", host,
        200, "text/html", null, html(Seq("/flaky.html", "/p1.html"), "root page unique words here")),
      // transient outage: first 2 attempts 503, third succeeds
      s"https://$host/flaky.html" -> SyntheticPage(s"https://$host/flaky.html", host,
        200, "text/html", null, html(Seq("/deep.html"), "flaky page eventually served content"),
        fail_first = 2),
      s"https://$host/p1.html" -> SyntheticPage(s"https://$host/p1.html", host,
        200, "text/html", null, html(Nil, "sibling page with other words")),
      s"https://$host/deep.html" -> SyntheticPage(s"https://$host/deep.html", host,
        200, "text/html", null, html(Nil, "page behind the flaky one")))
    SyntheticWeb.Site(pages, Map(host -> ""), Map.empty, s"https://$host/p0.html")
  }

  test("transient 5xx retries: page succeeds on attempt 3, in exact parity") {
    val site = retrySite
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      maxRetries = 3, maxWaves = 20)
    val oracle = SequentialOracle.crawl(site, config)
    // oracle sanity: the flaky page's doc exists, and so does the page
    // discovered BEHIND it (proves the retried fetch extracted links)
    assert(oracle.documents.exists(_.doc_id.endsWith("/flaky.html")))
    assert(oracle.documents.exists(_.doc_id.endsWith("/deep.html")))
    assert(oracle.errors.count(_.startsWith("503")) == 2)

    val io = crawl(freshWarehouse("graft-retry"), site, config)
    assert(docSeqs(docsOf(io)) == docSeqs(oracle.documents))
    assert(seenOf(io) == oracle.seen)
    // every attempt logged: flaky url appears 3 times in the fetch log
    val flakyFetches = io.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter(org.apache.spark.sql.functions.col("url").endsWith("/flaky.html"))
      .collect()
    assert(flakyFetches.length == 3)
    assert(io.stat("errors_total").contains(oracle.errors.size.toLong))
  }

  test("retries exhausted: maxRetries=1 drops the page and what's behind it, in parity") {
    val site = retrySite // needs 2 retries; 1 is not enough
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      maxRetries = 1, maxWaves = 20)
    val oracle = SequentialOracle.crawl(site, config)
    assert(!oracle.documents.exists(_.doc_id.endsWith("/flaky.html")))
    assert(!oracle.documents.exists(_.doc_id.endsWith("/deep.html")))

    val io = crawl(freshWarehouse("graft-retry1"), site, config)
    assert(docSeqs(docsOf(io)) == docSeqs(oracle.documents))
    assert(io.stat("errors_total").contains(oracle.errors.size.toLong))
  }

  test("kitchen sink: PDF + retries + redirect chain + robots + dedup compose, in exact parity") {
    val host = "sink.example.com"
    def u(p: String) = s"https://$host/$p"
    def html(text: String, links: String*) =
      s"""<html><head><title>t</title></head><body><p>$text</p>
         |${links.map(l => s"""<a href="$l">x</a>""").mkString}</body></html>""".stripMargin
    val pdfBody = graft.extract.PdfFixture.pdf(Seq(
      Seq(graft.extract.PdfFixture.Block(Seq("Sink Report"), fontSize = 18),
        graft.extract.PdfFixture.Block(Seq("pdf paragraph alpha content"))),
      Seq(graft.extract.PdfFixture.Block(Seq("pdf paragraph beta content")))),
      title = "Sink", header = "Repeating Header", pageNumbers = true)
    val pages = Map(
      // root links everything: a flaky page, a redirect hop, a pdf, a
      // robots-blocked path, boilerplate duplicates, and a dead link
      u("index.html") -> SyntheticPage(u("index.html"), host, 200, "text/html", null,
        html("root words here", "/flaky.html", "/hop0.html", "/doc.pdf",
          "/private/secret.html", "/dup1.html", "/dup2.html", "/gone.html")),
      u("flaky.html") -> SyntheticPage(u("flaky.html"), host, 200, "text/html", null,
        html("flaky page eventually served"), fail_first = 1),
      u("hop0.html") -> SyntheticPage(u("hop0.html"), host, 301, "text/html",
        u("hop1.html"), ""),
      u("hop1.html") -> SyntheticPage(u("hop1.html"), host, 301, "text/html",
        u("target.html"), ""),
      u("target.html") -> SyntheticPage(u("target.html"), host, 200, "text/html", null,
        html("the page behind two redirects")),
      u("doc.pdf") -> SyntheticPage(u("doc.pdf"), host, 200, "application/pdf",
        null, pdfBody),
      u("private/secret.html") -> SyntheticPage(u("private/secret.html"), host, 200,
        "text/html", null, html("robots should block this")),
      u("dup1.html") -> SyntheticPage(u("dup1.html"), host, 200, "text/html", null,
        html("identical duplicated body")),
      u("dup2.html") -> SyntheticPage(u("dup2.html"), host, 200, "text/html", null,
        html("identical duplicated body")))
    val site = SyntheticWeb.Site(pages,
      Map(host -> "User-agent: *\nDisallow: /private/"), Map.empty, u("index.html"))
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      maxRetries = 2, maxRedirects = 7, maxWaves = 20, bloomMinSeenRows = 0L)
    val oracle = SequentialOracle.crawl(site, config)
    // oracle-side expectations
    val odocs = oracle.documents.map(_.doc_id)
    assert(odocs.exists(_.endsWith("flaky.html")), "retry path")
    assert(odocs.exists(_.endsWith("target.html")), "redirect chain")
    assert(odocs.exists(_.endsWith("doc.pdf")), "pdf path")
    assert(!odocs.exists(_.contains("secret")), "robots gate")
    // dup2 has no unique text (first-wins went to dup1) -> no document
    assert(odocs.exists(_.endsWith("dup1.html")) && !odocs.exists(_.endsWith("dup2.html")))
    val pdfDoc = oracle.documents.find(_.doc_id.endsWith("doc.pdf")).get
    assert(pdfDoc.title == "Sink")
    assert(!pdfDoc.spans.exists(_.text.contains("Repeating Header")), "pdf decoration")

    val io = crawl(freshWarehouse("graft-sink"), site, config)
    val engineDocs = docsOf(io)
    val oracleDocs = oracle.documents.sortBy(_.seq)
    assert(engineDocs.length == oracleDocs.length)
    engineDocs.zip(oracleDocs).foreach { case (e, o) =>
      assert(e.doc_id == o.doc_id && e.seq == o.seq && e.spans == o.spans,
        s"mismatch at ${o.doc_id}")
    }
    assert(seenOf(io) == oracle.seen)
    assert(io.stat("pages_total").contains(oracle.crawlOrder.size.toLong))
    assert(io.stat("errors_total").contains(oracle.errors.size.toLong))
  }
}

/** Test fetcher: bot-wall sentinel for every page except the root
  * (top-level class so the Spark closure carries no test-suite state).
  */
final class WalledFetcher(pages: Map[String, SyntheticPage],
    robots: Map[String, String], rootUrl: String) extends Fetcher {
  private val inner = new SyntheticFetcher(pages, robots)
  override def fetch(url: String, attempt: Int = 0): FetchResponse =
    if (url != rootUrl) FetchResponse(HttpFetcher.BotProtectionStatus, "", null, "")
    else inner.fetch(url, attempt)
  override def fetchRobots(host: String): String = inner.fetchRobots(host)
}
