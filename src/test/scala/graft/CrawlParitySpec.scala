package graft

import graft.core.ScopeFilter
import graft.crawl._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The north-rule invariant (SURVEY.md §5.3): the Spark engine must
  * reproduce the sequential oracle's crawl ordering, final URL-seen set,
  * and per-row span sequences, and must resume exactly from a checkpoint.
  */
class CrawlParitySpec extends AnyFunSuite with CrawlFixture {

  private val site = SyntheticWeb.generate(
    SyntheticWeb.Spec(hosts = 2, pagesPerHost = 6, hotHostFactor = 2, fanout = 3))
  // small politeness budget so per-host caps bind and carryover is exercised
  // bloomMinSeenRows = 0: always exercise the bucket-zipped Bloom flag
  // pass (the production threshold would skip it at fixture scale)
  private val config = CrawlConfig(rootUrl = site.rootUrl,
    scope = ScopeFilter.Domain, waveBudgetMs = 3000L, maxWaves = 40,
    bloomMinSeenRows = 0L)
  private lazy val oracle = SequentialOracle.crawl(site, config)

  private lazy val fullIo: TableIO = crawl(freshWarehouse("graft-parity"), site, config)

  /** `(url, seq, wave)` of every fetched frontier entry: an entry is
    * fetched in the LAST wave it appears in (politeness carryover
    * restages it with wave+1 until it is due).
    */
  private def fetchedAt(io: TableIO): Set[(String, Long, Int)] =
    io.readAll("frontier", TableIO.FrontierSchema, lookahead = 1)
      .collect().map(r => (r.getString(0), r.getLong(5), r.getInt(6)))
      .groupBy(_._1).map { case (url, rows) => (url, rows.head._2, rows.map(_._3).max) }.toSet

  test("final URL-seen set is identical to the oracle") {
    assert(seenOf(fullIo) == oracle.seen)
  }

  test("documents match the oracle row-for-row, span-for-span") {
    val engineDocs = docsOf(fullIo)
    val oracleDocs = oracle.documents
    assert(engineDocs.size == oracleDocs.size)
    engineDocs.zip(oracleDocs).foreach { case (e, o) =>
      assert(e.doc_id == o.doc_id, "doc order")
      assert(e.seq == o.seq, s"seq for ${o.doc_id}")
      assert(e.wave == o.wave, s"wave for ${o.doc_id}")
      assert(e.title == o.title, s"title for ${o.doc_id}")
      assert(e.lang == o.lang, s"lang for ${o.doc_id}")
      assert(e.total_words == o.total_words, s"total_words for ${o.doc_id}")
      assert(e.unique_words == o.unique_words, s"unique_words for ${o.doc_id}")
      // per-row invariant: span-sequence equality (kind, text, media_ref, order)
      assert(e.spans == o.spans, s"spans for ${o.doc_id}")
    }
  }

  test("crawl ordering matches: every page fetched at the same wave and seq") {
    assert(fetchedAt(fullIo) == oracle.crawlOrder.map(e => (e.url, e.seq, e.wave)).toSet)
  }

  test("politeness: per-host per-wave cap of 1 forces carryover, parity holds") {
    // budget 150ms + min delay 100ms → cap 1 page/host/wave everywhere
    val pSite = SyntheticWeb.generate(
      SyntheticWeb.Spec(hosts = 1, pagesPerHost = 5, hotHostFactor = 1, fanout = 4))
    val pConfig = CrawlConfig(rootUrl = pSite.rootUrl,
      scope = ScopeFilter.Domain, waveBudgetMs = 150L, maxWaves = 30)
    val pOracle = SequentialOracle.crawl(pSite, pConfig)
    // oracle must show ≤1 fetch per host per wave, and must need more waves
    // than pages of the deepest BFS level (i.e. the cap actually bound)
    val byWaveHost = pOracle.crawlOrder.groupBy(e => (e.wave, e.host))
    assert(byWaveHost.values.forall(_.size <= 1), "cap of 1 exceeded")
    assert(pOracle.crawlOrder.map(_.wave).max >= 4, "cap never bound")

    val io = crawl(freshWarehouse("graft-polite"), pSite, pConfig)
    // engine fetched each entry at the oracle's wave (carryover included)
    assert(fetchedAt(io) == pOracle.crawlOrder.map(e => (e.url, e.seq, e.wave)).toSet)
    // carryover really happened: some entry appears in >1 frontier wave
    val carried = io.readAll("frontier", TableIO.FrontierSchema, lookahead = 1)
      .collect().groupBy(_.getString(0)).count(_._2.length > 1)
    assert(carried > 0, "no frontier entry was ever carried over")
  }

  test("unique_blocks table equals the oracle's first-wins dictionary") {
    val engineBlocks = fullIo.readAll("unique_blocks", TableIO.UniqueBlocksSchema)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(engineBlocks == oracle.uniqueBlocks)
  }

  test("killed run resumes exactly: stop after 2 waves, resume, identical tables") {
    val wh = freshWarehouse("graft-resume")
    crawl(wh, site, config, waves = 2) // "killed" after 2 committed waves
    val io2 = crawl(wh, site, config) // fresh engine instance resumes from manifest
    assert(docsOf(io2) == docsOf(fullIo))
    assert(seenOf(io2) == seenOf(fullIo))
    val m1 = io2.readAll("metrics", TableIO.MetricsSchema).agg(
      org.apache.spark.sql.functions.sum("pages")).head().getLong(0)
    assert(m1 == oracle.crawlOrder.size)
  }

  test("resume at a DIFFERENT parallelism ignores persisted blooms (no false negatives)") {
    // blooms staged at numPartitions=4 are keyed floorMod(hash, 4); resuming
    // at 3 partitions must rebuild them from `seen` (bloom_buckets stat
    // mismatch), or candidates are zipped with the wrong bucket's filter and
    // already-seen URLs get re-crawled
    val wh = freshWarehouse("graft-resume-parts")
    val io = crawl(wh, site, config, waves = 2) // blooms committed with bloom_buckets=4
    assert(io.stat("bloom_buckets").contains(4L), "bucket count persisted")
    crawl(wh, site, config, numPartitions = 3)
    assert(docsOf(io) == docsOf(fullIo))
    assert(seenOf(io) == seenOf(fullIo))
  }

  /** `(host, discovered_wave)` of every committed `hosts` row. */
  private def hostRows(io: TableIO): Seq[(String, Int)] =
    io.readAll("hosts", TableIO.HostsSchema).collect()
      .map(r => (r.getString(0), r.getInt(3))).toSeq

  /** Each host's robots were fetched once: one `hosts` row per host. */
  private def assertOneRowPerHost(rows: Seq[(String, Int)]): Unit = {
    val twice = rows.groupBy(_._1).collect { case (h, rs) if rs.size > 1 => h }
    assert(twice.isEmpty, s"hosts with more than one row: $twice")
  }

  test("driver per-host state is O(new hosts): no robots broadcast, no candidate-host collect") {
    // many hosts, narrow tree links: late waves only touch a few hosts.
    // Robots rules are a JOIN column (candidates ⋈ hosts table) and the
    // seen-added total is a scalar agg; a wave's new hosts fetch their
    // robots on executors into the `hosts` table — one row per host ever,
    // and none discovered by the last wave.
    val sSite = SyntheticWeb.generate(SyntheticWeb.Spec(
      hosts = 6, pagesPerHost = 5, hotHostFactor = 1, fanout = 2,
      treeLinks = true, sharedDomain = true))
    val sConfig = CrawlConfig(rootUrl = sSite.rootUrl,
      scope = ScopeFilter.Domain, waveBudgetMs = 600000L, maxWaves = 40)
    val sOracle = SequentialOracle.crawl(sSite, sConfig)
    val io = crawl(freshWarehouse("graft-robots-scope"), sSite, sConfig)
    val hosts = hostRows(io)
    assert(sSite.pages.values.map(_.host).toSet.size >= 6)
    assertOneRowPerHost(hosts)
    // every host that reached the frontier, and no other, has a row
    assert(hosts.map(_._1).toSet == io.readAll("frontier", TableIO.FrontierSchema,
      lookahead = 1).collect().map(_.getString(2)).toSet)
    val lastWave = io.committedWave
    assert(!hosts.exists(_._2 == lastWave),
      s"final wave $lastWave discovered hosts: once all hosts are known it must fetch no robots")
    // parity is unaffected: robots STILL filter candidates identically
    // (the site generator plants disallow rules — seen-set equality below
    // fails if the joined matcher diverges from the oracle's)
    assert(seenOf(io) == sOracle.seen)
    assert(io.readAll("documents", TableIO.DocumentsSchema).count() ==
      sOracle.documents.size)
  }

  test("a wave with thousands of distinct candidate hosts keeps driver state O(new hosts)") {
    // one root page fanning out to 2000 pages on 2000 DISTINCT hosts: the
    // retired design collected per-host candidate counts + a compiled-
    // robots map for every candidate host before the wave could filter
    // links (2000 driver entries here; 10^7 at a real frontier). The join
    // design collects nothing at candidate scale — wave 0 discovers ONE
    // host (the root's) even though 2000 candidate hosts flow through the
    // robots filter; wave 1 discovers the 2000 on executors.
    val n = 2000
    val hostOf = (i: Int) => s"h$i.wide.example.com"
    val leafUrl = (i: Int) => s"https://${hostOf(i)}/p"
    val rootUrl = "https://wide.example.com/"
    val links = (0 until n).map(i => s"""<a href="${leafUrl(i)}">l$i</a>""").mkString
    val rootPage = SyntheticPage(rootUrl, "wide.example.com", 200, "text/html",
      null, s"<html><head><title>w</title></head><body><p>root fan</p>$links</body></html>")
    val leafPages = (0 until n).map { i =>
      leafUrl(i) -> SyntheticPage(leafUrl(i), hostOf(i), 200, "text/html", null,
        s"<html><head><title>l$i</title></head><body><p>leaf $i text</p></body></html>")
    }.toMap
    val wideSite = SyntheticWeb.Site(
      leafPages + (rootUrl -> rootPage), Map.empty, Map.empty, rootUrl)
    // disallow robots on half the hosts AFTER they are discovered is not
    // possible (no robots rows exist until a host reaches the frontier),
    // so candidate-time filtering must pass all — reference semantics.
    val wideConfig = CrawlConfig(rootUrl = rootUrl, scope = ScopeFilter.Domain,
      waveBudgetMs = 600000L, maxWaves = 4, maxLinksPerPage = n + 1)
    val wOracle = SequentialOracle.crawl(wideSite, wideConfig)
    val wh = freshWarehouse("graft-wide-hosts")
    val io = crawl(wh, wideSite, wideConfig, waves = 1) // wave 0: root fetch, n candidate hosts
    assert(hostRows(io) == Seq(("wide.example.com", 0)),
      s"wave 0 must discover only the root host, got ${hostRows(io).size}")
    crawl(wh, wideSite, wideConfig) // finish; wave 1 discovers the n leaf hosts
    val hosts = hostRows(io)
    assertOneRowPerHost(hosts)
    assert(hosts.count(_._2 == 1) == n)
    assert(hosts.size == n + 1)
    assert(seenOf(io) == wOracle.seen)
    assert(io.readAll("documents", TableIO.DocumentsSchema).count() ==
      wOracle.documents.size)
  }

  test("stale staged hosts from a killed attempt are overwritten on resume (>64-host wave)") {
    // every wave stages the robots-fetch snapshot to the wave's hosts
    // partition BEFORE consuming it; a kill after that write
    // but before the wave commit leaves a stale (possibly different —
    // robots can change between attempts) staged file that the resumed
    // attempt must overwrite, never read alongside its own fetch
    val n = 100
    val hostOf = (i: Int) => s"h$i.stale.example.com"
    val leafUrl = (i: Int) => s"https://${hostOf(i)}/p"
    val rootUrl = "https://stale.example.com/"
    val links = (0 until n).map(i => s"""<a href="${leafUrl(i)}">l$i</a>""").mkString
    val rootPage = SyntheticPage(rootUrl, "stale.example.com", 200, "text/html",
      null, s"<html><head><title>s</title></head><body><p>stale root</p>$links</body></html>")
    val leafPages = (0 until n).map { i =>
      leafUrl(i) -> SyntheticPage(leafUrl(i), hostOf(i), 200, "text/html", null,
        s"<html><head><title>l$i</title></head><body><p>stale leaf $i</p></body></html>")
    }.toMap
    val sSite = SyntheticWeb.Site(
      leafPages + (rootUrl -> rootPage), Map.empty, Map.empty, rootUrl)
    val sConfig = CrawlConfig(rootUrl = rootUrl, scope = ScopeFilter.Domain,
      waveBudgetMs = 600000L, maxWaves = 4, maxLinksPerPage = n + 1)
    val sOracle = SequentialOracle.crawl(sSite, sConfig)
    val wh = Files.createTempDirectory("graft-stale-hosts").toString
    val io = new TableIO(wh, spark)
    val engine = new CrawlEngine(spark, io, sConfig,
      new SyntheticFetcher(sSite.pages, sSite.robots), numPartitions = 4)
    engine.run(maxWavesThisRun = 1) // wave 0 commits; wave 1 not yet run
    // simulate the killed attempt: a staged hosts partition for wave 1
    // carrying a bogus row (wrong delay, poison robots)
    import spark.implicits._
    io.stage("hosts", 1,
      Seq(HostState("poison.example.com", 99999L, "User-agent: *\nDisallow: /", 1)).toDS())
    engine.run() // resume finishes the crawl
    assert(seenOf(io) == sOracle.seen)
    val hosts = io.readAll("hosts", TableIO.HostsSchema)
    assert(hosts.filter(org.apache.spark.sql.functions.col("host") ===
      "poison.example.com").count() == 0, "stale staged row survived the overwrite")
    assert(hosts.count() == n + 1) // root host + n leaf hosts, each once
  }

  test("legacy warehouse resume: frontier staged without retry/redirect columns") {
    val wh = freshWarehouse("graft-resume-legacy")
    val io = crawl(wh, site, config, waves = 2)
    // rewrite the staged next-wave frontier with the PRE-retry 7-column
    // schema (what a round-1 warehouse holds on disk)
    val nextWave = io.committedWave + 1
    val dir = s"$wh/frontier/w$nextWave"
    val legacyRows = spark.read.parquet(dir)
      .select("url", "url_hash", "host", "parent_url", "depth", "seq", "wave")
      .collect().toSeq
    val legacySchema = org.apache.spark.sql.types.StructType.fromDDL(
      "url string, url_hash bigint, host string, parent_url string, " +
      "depth int, seq bigint, wave int")
    spark.createDataFrame(spark.sparkContext.parallelize(legacyRows), legacySchema)
      .write.mode("overwrite").parquet(dir)
    val io2 = crawl(wh, site, config) // must fill defaults, not throw on null fields
    assert(docsOf(io2) == docsOf(fullIo))
    assert(seenOf(io2) == seenOf(fullIo))
  }

  test("external stylesheets hide elements identically in engine and oracle") {
    val host = "css.example.com"
    def u(p: String) = s"https://$host/$p"
    val sheetLink = s"""<link rel="stylesheet" href="/style.css">"""
    def page(name: String, extra: String, next: Option[String]) = {
      val a = next.map(n => s"""<a href="/$n">next</a>""").getOrElse("")
      u(name) -> SyntheticPage(u(name), host, 200, "text/html", null,
        s"""<html><head>$sheetLink</head><body>
           |<div class="promo-banner"><p>banner chrome $name</p></div>
           |$extra
           |<p>real content of $name</p>$a</body></html>""".stripMargin)
    }
    val pages = Map(
      page("index.html", "", Some("a.html")),
      page("a.html",
        // inline display:block must override the sheet hide on THIS div
        s"""<div class="promo-banner" style="display:block"><p>kept banner</p></div>""",
        Some("b.html")),
      page("b.html", "", None),
      u("style.css") -> SyntheticPage(u("style.css"), host, 200, "text/css",
        null, ".promo-banner { display: none }"))
    val site = SyntheticWeb.Site(pages, Map.empty, Map.empty, u("index.html"))
    val cfg = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      waveBudgetMs = 3000L, maxWaves = 10)
    val engineDocs = docsOf(crawl(freshWarehouse("graft-css-parity"), site, cfg))
    val o = SequentialOracle.crawl(site, cfg)
    assert(engineDocs.map(d => (d.doc_id, d.spans)) ==
      o.documents.map(d => (d.doc_id, d.spans)))
    // the sheet really applied: banner text gone everywhere, the inline
    // display:block override survived on a.html
    val allText = engineDocs.flatMap(_.spans.map(_.text))
    assert(!allText.exists(_.contains("banner chrome")), allText.toString)
    assert(allText.exists(_.contains("kept banner")))
    assert(allText.count(_.startsWith("real content")) == 3)
    // the stylesheet URL itself was never crawled as a page
    assert(!engineDocs.exists(_.doc_id.contains("style.css")))
  }

  test("a relative <base href> resolves against the page URL in engine and oracle") {
    // the root's links resolve against <base href="/sub/">, itself
    // resolved against the root's URL: both sides must fetch /sub/p.html
    val host = "base.example.com"
    def u(p: String) = s"https://$host$p"
    val pages = Map(
      u("/") -> SyntheticPage(u("/"), host, 200, "text/html", null,
        """<html><head><base href="/sub/"></head>
          |<body><p>base root</p><a href="p.html">p</a></body></html>""".stripMargin),
      u("/sub/p.html") -> SyntheticPage(u("/sub/p.html"), host, 200, "text/html", null,
        "<html><body><p>the sub page</p></body></html>"))
    val bSite = SyntheticWeb.Site(pages, Map.empty, Map.empty, u("/"))
    val cfg = CrawlConfig(rootUrl = bSite.rootUrl, scope = ScopeFilter.Domain,
      waveBudgetMs = 3000L, maxWaves = 5)
    val o = SequentialOracle.crawl(bSite, cfg)
    val io = crawl(freshWarehouse("graft-base-href"), bSite, cfg)
    val both = Set(u("/"), u("/sub/p.html"))
    assert(o.crawlOrder.map(_.url).toSet == both)
    assert(fetchedAt(io) == o.crawlOrder.map(e => (e.url, e.seq, e.wave)).toSet)
    assert(docsOf(io) == o.documents)
    assert(seenOf(io) == o.seen)
  }

  test("pre-seeded million-scale seen set engages the Bloom filter buckets, crawl unchanged") {
    // 250k junk hashes (> bloomMinSeenRows default 200k) pre-seed the seen
    // table at offsets past any real url_hash, so the crawl RESULT is that
    // of a fresh crawl while the seen machinery carries the rows: the
    // bloom buckets must rebuild from the seeded set and every wave's
    // candidates are flagged against their bucket's filter — the late-wave
    // shape of a long-running crawl (VERDICT_r05 #4 scale evidence)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pre = 250000L
    val sConfig = config.copy(bloomMinSeenRows = 200000L)
    val io = new TableIO(freshWarehouse("graft-seeded-seen"), spark)
    CrawlEngine.seedWarehouse(spark, io, sConfig,
      extraSeen = spark.range(pre)
        .select((col("id") + (1L << 40)).as("url_hash")),
      nowMs = 1L)
    val engine = engineOn(io, site, sConfig)
    engine.run()
    assert(engine.lastWaveBloomEngaged, "bloom path must engage past the threshold")
    // result parity with the unseeded oracle: junk hashes change nothing
    assert(docsOf(io) == docsOf(fullIo))
    // subtract exactly the junk window (real url hashes span all of Long,
    // so a range filter would strip them; the 250k-wide window at 2^40 is
    // collision-free against the fixture's handful of real hashes)
    val junkLo = 1L << 40
    val junkHi = junkLo + pre
    assert(seenOf(io).filterNot(h => h >= junkLo && h < junkHi) == oracle.seen)
  }

  test("skewed web: per-host wave cap bounds the hot host's share of every wave") {
    // one host owns 50% of all pages; the wave budget binds (cap =
    // 1000ms/100ms = 10 pages/host/wave), so NO host may exceed 10 pages
    // in any wave and the hot host spreads across waves instead of its
    // serial chain owning the crawl (SURVEY 4 scheduling-level skew control)
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val hosts = 4
    val sSite = SyntheticWeb.generate(SyntheticWeb.Spec(
      hosts = hosts, pagesPerHost = 12, hotHostFactor = hosts - 1,
      fanout = 8, treeLinks = true, sharedDomain = true))
    val sConfig = CrawlConfig(rootUrl = sSite.rootUrl,
      scope = ScopeFilter.Domain, waveBudgetMs = 1000L, maxWaves = 60)
    val sOracle = SequentialOracle.crawl(sSite, sConfig)
    val io = crawl(freshWarehouse("graft-skew"), sSite, sConfig)
    val log = io.readAll("fetch_log", TableIO.FetchLogSchema)
    val cap = sConfig.maxPagesPerHostPerWave(0)
    assert(cap == 10)
    val hotMax = log.groupBy(col("wave"), col("host"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
    assert(hotMax <= cap, s"a host fetched $hotMax pages in one wave (cap $cap)")
    // the cap delays, never drops: full corpus still crawled, parity holds
    assert(seenOf(io) == sOracle.seen)
    assert(io.readAll("documents", TableIO.DocumentsSchema).count() ==
      sOracle.documents.size)
  }

}
