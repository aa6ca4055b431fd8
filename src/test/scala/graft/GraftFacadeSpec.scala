package graft

import graft.core.ScopeFilter
import graft.crawl._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class GraftFacadeSpec extends AnyFunSuite with SharedSpark {

  test("crawl → documents → export → render, end to end through the facade") {
    val site = SyntheticWeb.generate(
      SyntheticWeb.Spec(hosts = 1, pagesPerHost = 8, hotHostFactor = 1))
    val wh = Files.createTempDirectory("graft-facade").toString
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain)
    val fetcher = new SyntheticFetcher(site.pages, site.robots)

    val r = Graft.crawl(spark, config, fetcher, wh, numPartitions = 4)
    assert(r.pagesCrawled > 0 && r.wavesProcessed > 0)
    assert(r.stopReason.isEmpty)

    val docs = Graft.documentsTyped(spark, wh).collect()
    assert(docs.nonEmpty)
    val md = Graft.toMarkdown(docs.head)
    assert(md.nonEmpty && md.contains("#"))
    val csv = Graft.toCsvDataframe(docs.head)
    assert(csv.startsWith("DocEltType;"))

    // resume is a no-op on a finished crawl
    val r2 = Graft.crawl(spark, config, fetcher, wh, numPartitions = 4)
    assert(r2.wavesProcessed == 0 && r2.pagesCrawled == r.pagesCrawled)

    // restart wipes and re-crawls to the same result
    val r3 = Graft.restart(spark, config, fetcher, wh, numPartitions = 4)
    assert(r3.pagesCrawled == r.pagesCrawled)

    // config round-trips through the warehouse; continueCrawl resumes from
    // the PERSISTED config (caller supplies only overrides)
    assert(Graft.persistedConfig(spark, wh).contains(config))
    val r4 = Graft.continueCrawl(spark, fetcher, wh,
      overrides = c => c.copy(maxPagesToCrawl = 1000L), numPartitions = 4)
    assert(r4.wavesProcessed == 0 && r4.pagesCrawled == r.pagesCrawled)
    assert(Graft.persistedConfig(spark, wh).exists(_.maxPagesToCrawl == 1000L))

    // export (gate below corpus size so something passes)
    val out = Files.createTempDirectory("graft-facade-out").toString
    Graft.exportDataset(Graft.documents(spark, wh), out, minDocsPerSite = 1)
    // README.md sits at the dataset root (HF layout) — filter to parquet
    // when reading the whole root back with Spark
    assert(spark.read.option("pathGlobFilter", "*.parquet")
      .parquet(out).count() == docs.length)
    // dataset card written alongside the parquet
    val card = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/README.md")), "UTF-8")
    assert(card.startsWith("---") && card.contains("num_examples:")
      && card.contains("| Website |"))

    // per-doc renderings (S5): markdown + preview.html + csv, D4-pruned
    val rendered = Graft.renderAll(spark, wh).collect()
    assert(rendered.length == docs.length)
    assert(rendered.forall(r =>
      r.getAs[String]("preview_html").startsWith("<!doctype html>")))
    assert(rendered.forall(r =>
      r.getAs[String]("csv").startsWith("DocEltType;")))

    // lineage surfaces — A1 contract: per-partition words is the real
    // sum of fetched pages' total_words (documents only keep unique-text
    // survivors, so metrics words >= documents' total_words sum > 0)
    assert(Graft.metrics(spark, wh).count() > 0)
    val metricsWords = Graft.metrics(spark, wh)
      .agg(org.apache.spark.sql.functions.sum("words")).head().getLong(0)
    val docWords = Graft.documents(spark, wh)
      .agg(org.apache.spark.sql.functions.sum("total_words")).head().getLong(0)
    assert(metricsWords > 0 && metricsWords >= docWords,
      s"metrics words $metricsWords vs doc words $docWords")
    assert(Graft.seenHashes(spark, wh).count() >= r.pagesCrawled)
    assert(Graft.hostStates(spark, wh).count() == 1)
    // request log (S9): one row per fetched page, 16 columns (css_ms is
    // timed separately so fetch_ms stays the page-fetch latency)
    val log = Graft.fetchLog(spark, wh)
    assert(log.count() == r.pagesCrawled)
    assert(log.columns.length == 16 && log.columns.contains("fetch_ms")
      && log.columns.contains("css_ms") && log.columns.contains("retry_count"))

    // per-document file-tree export (C8): three files per doc under the
    // reference's URL-derived layout, written partition-parallel
    val treeOut = Files.createTempDirectory("graft-facade-tree").toString
    val contentDir = Graft.exportFiles(spark, wh, treeOut)
    assert(contentDir.startsWith(treeOut))
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(contentDir))
      .filter(java.nio.file.Files.isRegularFile(_))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(written)
      .asScala.map(_.toString).toVector
    assert(names.count(_.endsWith(".text.md")) == docs.length)
    assert(names.count(_.endsWith(".dataframe.csv")) == docs.length)
    assert(names.count(_.endsWith(".preview.html")) == docs.length)
    // language extension sits between the url-derived base and the format
    assert(names.forall(n => n.contains(".xx.") ||
      n.matches(".*\\.[a-z]{2}\\.(text\\.md|dataframe\\.csv|preview\\.html)")))
    // BOM-prefixed UTF-8 like the reference writer (UTF8Encoding(true))
    val firstBytes = Files.readAllBytes(
      java.nio.file.Paths.get(names.head)).take(3)
    assert(firstBytes.sameElements(
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)))

    // maintenance surfaces: recrawl through the facade re-fetches exactly
    // the requested section; forget retracts; compaction is lossless
    val seenBefore = Graft.seenHashes(spark, wh).count()
    val rec = Graft.recrawlPrefix(spark, wh, docs.head.doc_id)
    assert(rec.reseeded == 1)
    val r5 = Graft.crawl(spark, config, fetcher, wh, numPartitions = 4)
    assert(r5.wavesProcessed >= 1)
    assert(Graft.seenHashes(spark, wh).count() == seenBefore)
    val fg = Graft.forgetUrls(spark, wh, Seq(docs.head.doc_id))
    assert(fg.retractedSeen == 1)
    assert(Graft.seenHashes(spark, wh).count() == seenBefore - 1)
    assert(Graft.compactTable(spark, wh, "seen") == seenBefore - 1)
    assert(Graft.seenHashes(spark, wh).count() == seenBefore - 1)
  }

  test("errors log: failed fetches persist class+message per wave, resume carries") {
    val host = "err.example.com"
    def page(u: String, html: String) =
      u -> SyntheticPage(u, host, 200, "text/html", null, html)
    val root = s"https://$host/"
    val pages = Map(
      page(root, s"""<html><body><p>root page body</p>
        |<a href="/ok.html">ok</a><a href="/missing.html">gone</a></body></html>""".stripMargin),
      page(s"https://$host/ok.html", "<html><body><p>fine page body</p></body></html>"))
      // missing.html is NOT in the universe → SyntheticFetcher returns 404
    val site = SyntheticWeb.Site(pages, Map(host -> ""), Map.empty, root)
    val wh = Files.createTempDirectory("graft-errors").toString
    val config = CrawlConfig(rootUrl = root, scope = ScopeFilter.Domain)
    Graft.crawl(spark, config, new SyntheticFetcher(site.pages, site.robots), wh,
      numPartitions = 2)
    val errs = Graft.errorLog(spark, wh).collect()
    assert(errs.length == 1, errs.mkString("|"))
    val r = errs.head
    assert(r.getAs[String]("url") == s"https://$host/missing.html")
    assert(r.getAs[Int]("status") == 404)
    assert(r.getAs[String]("error_class") == "HttpStatus")
    assert(r.getAs[String]("error_message") == "HTTP 404")
    // resume on the finished crawl is a no-op and KEEPS the error history
    Graft.crawl(spark, config, new SyntheticFetcher(site.pages, site.robots), wh,
      numPartitions = 2)
    assert(Graft.errorLog(spark, wh).count() == 1)
  }

  test("stale staged errors partition from a killed attempt is deleted on re-run") {
    // data-dependent staging hazard: a killed attempt staged errors/w0,
    // the re-run wave has no errors — committing must NOT surface the orphan
    val host = "clean.example.com"
    val root = s"https://$host/"
    val pages = Map(root -> SyntheticPage(root, host, 200, "text/html", null,
      "<html><body><p>all good here</p></body></html>"))
    val site = SyntheticWeb.Site(pages, Map(host -> ""), Map.empty, root)
    val wh = Files.createTempDirectory("graft-stale-errors").toString
    val sqlc = spark
    import sqlc.implicits._
    Seq((0, 99L, s"https://$host/ghost", host, 503, "Fake", "fake", "", 0))
      .toDF("wave", "seq", "url", "host", "status", "error_class",
        "error_message", "error_stack", "retry_count")
      .write.parquet(s"$wh/errors/w0") // the killed attempt's leftover
    Graft.crawl(spark, CrawlConfig(rootUrl = root, scope = ScopeFilter.Domain),
      new SyntheticFetcher(site.pages, site.robots), wh, numPartitions = 2)
    assert(Graft.errorLog(spark, wh).count() == 0,
      "stale uncommitted errors partition became visible")
  }

  test("URL→path mapping matches the reference's documented layout") {
    import graft.extract.FileExport
    // GetBaseDomain doc example (HtmlFileUtils.cs:36-38)
    assert(FileExport.websitePath(ScopeFilter.Domain,
      "http://www.west-wind.com/") == "west-wind.com")
    assert(FileExport.websitePath(ScopeFilter.SubDomain,
      "http://www.west-wind.com/") == "www.west-wind.com")
    // segments + filename
    assert(FileExport.filePathFromUrl(
      "https://en.wikipedia.org/wiki/Text_mining") == "wiki/Text_mining")
    assert(FileExport.filePathFromUrl(
      "https://site.com/docs/guide/intro.html") == "docs/guide/intro.html")
    // trailing slash → _default_
    assert(FileExport.filePathFromUrl("https://site.com/") == "_default_")
    assert(FileExport.filePathFromUrl("https://site.com/blog/") == "blog/_default_")
    // invalid filename chars → '_', url-decoding applied
    assert(FileExport.filePathFromUrl(
      "https://site.com/a%20b/c:d.html") == "a b/c_d.html")
    // query → '_' + uppercase MD5 of the query INCLUDING its leading '?'
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest("?q=hello".getBytes("UTF-8")).map("%02X".format(_)).mkString
    assert(FileExport.filePathFromUrl(
      "https://site.com/search?q=hello") == s"search_$md5")
    // dots-before-slash collapse defangs traversal segments
    assert(!FileExport.pathValidChars("a/../b").contains(".."))
    // language extension
    assert(FileExport.languageCode("?") == "xx" && FileExport.languageCode("en") == "en")
  }

  test("file export: sanitize-collided URLs get distinct hash-suffixed paths") {
    import graft.extract.FileExport
    // both sanitize to h.com path 'a_b' — without collision handling one
    // document's three files silently overwrite the other's
    val u1 = "https://h.com/a:b"
    val u2 = "https://h.com/a*b"
    assert(FileExport.filePathFromUrl(u1) == FileExport.filePathFromUrl(u2))
    val sqlc = spark
    import sqlc.implicits._
    val rendered = Seq(
      (u1, "en", "md one", "<p>one</p>", "csv1"),
      (u2, "en", "md two", "<p>two</p>", "csv2"),
      ("https://h.com/solo", "en", "md solo", "<p>s</p>", "csv3"))
      .toDF("doc_id", "lang", "markdown", "preview_html", "csv")
    val out = Files.createTempDirectory("graft-collide").toString
    assert(FileExport.writeFiles(rendered, out) == 3)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .filter(java.nio.file.Files.isRegularFile(_)).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(files)
      .asScala.map(_.toString).toVector
    // 3 docs x 3 formats, none overwritten
    assert(names.length == 9, names.mkString("\n"))
    val mds = names.filter(_.endsWith(".text.md"))
    assert(mds.length == 3)
    val bodies = mds.map(p => new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    assert(bodies.exists(_.contains("md one")) && bodies.exists(_.contains("md two")))
    // the uncollided path keeps its clean name (no hash suffix)
    assert(names.exists(_.contains("solo.en.text.md")))
    // colliding members both carry an 8-hex suffix
    assert(mds.count(_.matches(".*a_b_[0-9A-F]{8}\\.en\\.text\\.md")) == 2)
  }
}
