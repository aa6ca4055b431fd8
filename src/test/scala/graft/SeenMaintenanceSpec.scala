package graft

import graft.core.{CuckooFilter64, ScopeFilter, UrlCanonicalizer}
import graft.crawl._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Seen-set retraction and recrawl (the north rule's "bloom falling back to
  * cuckoo for deletions" clause): forget/reseed semantics, the Bloom→Cuckoo
  * bucket transition, the no-false-negative contract, and the atomicity of
  * the maintenance commit.
  */
class SeenMaintenanceSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val site = SyntheticWeb.generate(
    SyntheticWeb.Spec(hosts = 1, pagesPerHost = 12, hotHostFactor = 1, fanout = 3))
  // zero crawl-delay so maintenance tests don't pay politeness sleeps; the
  // politeness machinery itself is covered by the parity/stop suites
  private val robots = site.robots.map { case (h, r) =>
    h -> r.replaceAll("Crawl-delay: \\d+", "Crawl-delay: 0")
  }
  // bloom engage threshold 0 so the filter-bucket machinery is always real
  private val config = CrawlConfig(rootUrl = site.rootUrl,
    scope = ScopeFilter.Domain, waveBudgetMs = 3000L, maxWaves = 500,
    bloomMinSeenRows = 0L)

  private def url(j: Int): String = SyntheticWeb.pageUrl(0, j)
  private def hashOf(u: String): Long =
    UrlCanonicalizer.urlHash(UrlCanonicalizer.canonicalize(u).get)

  private def crawl(warehouse: String,
      pages: Map[String, SyntheticPage] = site.pages): TableIO = {
    val io = new TableIO(warehouse, spark)
    new CrawlEngine(spark, io, config,
      new SyntheticFetcher(pages, robots), numPartitions = 4).run()
    io
  }

  private def seenOf(io: TableIO): Set[Long] =
    io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
      .collect().map(_.getLong(0)).toSet

  private def bucketsOf(io: TableIO): Map[Int, FilterBucket] = {
    import spark.implicits._
    io.readWave("blooms", io.committedWave, TableIO.BloomsSchema)
      .as[FilterBucket].collect().map(b => b.bucket -> b).toMap
  }

  /** The filters' only contract: never "absent" for a present key. */
  private def assertNoFalseNegatives(io: TableIO): Unit = {
    val nb = io.stat("bloom_buckets").get.toInt
    val buckets = bucketsOf(io)
    seenOf(io).foreach { h =>
      val b = CrawlEngine.bloomBucket(h, nb)
      assert(buckets.contains(b), s"seen hash $h in absent bucket $b")
      assert(buckets(b).filter.mightContain(h), s"false negative for $h")
    }
  }

  // ---- CuckooFilter64 unit behavior --------------------------------------

  test("cuckoo serde round-trips membership, size, and removability") {
    val cf = CuckooFilter64.forCapacity(500)
    val keys = (1L to 400L).map(_ * 0x9e3779b97f4a7c15L)
    keys.foreach(k => assert(cf.add(k)))
    val back = CuckooFilter64.fromBytes(cf.log2Buckets, cf.size, cf.toBytes)
    assert(back.size == 400)
    keys.foreach(k => assert(back.mightContain(k)))
    // deletions still work on the deserialized filter, and removing one key
    // never starves another (each inserted exactly once)
    keys.take(200).foreach(k => assert(back.remove(k)))
    keys.drop(200).foreach(k => assert(back.mightContain(k)))
    assert(back.size == 200)
  }

  test("forCapacity leaves headroom: all inserts succeed at rated capacity") {
    val cf = CuckooFilter64.forCapacity(10000)
    (1L to 10000L).foreach(k => assert(cf.add(k * 0x517cc1b727220a95L)))
  }

  test("addAll saturation fence: an overfull cuckoo bucket answers maybe" +
      " for every key instead of going false-negative") {
    val tiny = CuckooFilter64.forCapacity(8) // 4 buckets * 4 slots
    val fb0 = FilterBucket.ofCuckoo(0, tiny)
    val keys = (1L to 200L).map(_ * 0x9e3779b97f4a7c15L)
    val fb = fb0.addAll(keys.iterator)
    assert(fb.saturated, "200 keys into 16 slots must saturate")
    keys.foreach(k => assert(fb.filter.mightContain(k)))
    // removes on a saturated bucket are refused (stay maybe-for-all)
    val after = fb.removeAll(keys.take(3).iterator)
    assert(after.saturated)
    keys.foreach(k => assert(after.filter.mightContain(k)))
  }

  // ---- forget + reseed (recrawl) ------------------------------------------

  test("forget+reseed re-fetches exactly the forgotten urls; changed content" +
      " yields new document rows; seen set is preserved") {
    val wh = Files.createTempDirectory("graft-forget-reseed").toString
    val io = crawl(wh)
    val c0 = io.committedWave
    val seen0 = seenOf(io)
    val docs0 = io.readAll("documents", TableIO.DocumentsSchema).count()

    val targets = Seq(url(2), url(3), url(7))
    val report = SeenMaintenance.forgetUrls(spark, wh, targets, reseed = true)
    assert(report.requestedHashes == 3)
    assert(report.reseeded == 3)
    // reseeded urls STAY seen ("in frontier ⊆ in seen"): nothing retracted
    assert(report.retractedSeen == 0)
    assert(seenOf(io) == seen0)

    // recrawl against mutated content for the targets
    val mutated = site.pages.map { case (u, p) =>
      if (targets.contains(u))
        u -> p.copy(html = p.html.replace("</body>",
          s"<p>freshly updated content for $u</p></body>"))
      else u -> p
    }
    val io2 = crawl(wh, mutated)

    // exactly the 3 targets were re-fetched, nothing else
    val refetched = io2.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter(s"wave > $c0").select("url").collect().map(_.getString(0)).toSet
    assert(refetched == targets.toSet)

    // changed content passes the F10 unique-text gate → new document rows
    val newDocs = io2.readAll("documents", TableIO.DocumentsSchema)
      .filter(s"wave > $c0").select("doc_id").collect().map(_.getString(0)).toSet
    assert(newDocs == targets.toSet)
    assert(io2.readAll("documents", TableIO.DocumentsSchema).count() == docs0 + 3)

    // the recrawl re-evaluated the targets' out-links as candidates; all
    // were already seen, so the seen set is unchanged
    assert(seenOf(io2) == seen0)
    assertNoFalseNegatives(io2)
  }

  test("forget+reseed of unchanged content re-fetches but adds no documents" +
      " (F10 unique-text gate)") {
    val wh = Files.createTempDirectory("graft-forget-same").toString
    val io = crawl(wh)
    val c0 = io.committedWave
    val docs0 = io.readAll("documents", TableIO.DocumentsSchema).count()
    SeenMaintenance.forgetUrls(spark, wh, Seq(url(4)), reseed = true)
    val io2 = crawl(wh)
    val refetched = io2.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter(s"wave > $c0").select("url").collect().map(_.getString(0)).toSet
    assert(refetched == Set(url(4)))
    assert(io2.readAll("documents", TableIO.DocumentsSchema).count() == docs0)
  }

  test("two reseed forgets in a row: a re-forgotten pending row is replaced," +
      " and max_seq / next_frontier count each staged row once") {
    val wh = Files.createTempDirectory("graft-forget-twice").toString
    val io = crawl(wh)
    val c0 = io.committedWave
    val maxSeq0 = io.stat("max_seq").get
    val next0 = io.stat("next_frontier").get

    val r1 = SeenMaintenance.forgetUrls(spark, wh, Seq(url(2), url(3)), reseed = true)
    assert(r1.reseeded == 2)
    assert(io.stat("max_seq").contains(maxSeq0 + 2))
    assert(io.stat("next_frontier").contains(next0 + 2))

    // url(3) is already pending: its row is replaced (new row wins), so it
    // adds a seq but no frontier entry; url(5) is new on both counts
    val r2 = SeenMaintenance.forgetUrls(spark, wh, Seq(url(3), url(5)), reseed = true)
    assert(r2.requestedHashes == 2)
    assert(r2.reseeded == 2)
    assert(r2.retractedSeen == 0)
    assert(io.stat("max_seq").contains(maxSeq0 + 4))
    assert(io.stat("next_frontier").contains(next0 + 3))
    val reseedRows = io.readWave("reseed", c0 + 1, TableIO.FrontierSchema, lookahead = 1)
      .select("url", "seq").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reseedRows.keySet == Set(url(2), url(3), url(5)))
    assert(reseedRows(url(3)) > maxSeq0 + 2, "the replacement row carries a new seq")

    // the resumed crawl fetches each of the three exactly once
    val io2 = crawl(wh)
    val refetched = io2.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter(s"wave > $c0").select("url").collect().map(_.getString(0)).toSeq
    assert(refetched.sorted == Seq(url(2), url(3), url(5)).sorted)
  }

  // ---- pure retraction: the Bloom→Cuckoo transition ------------------------

  test("retraction transitions affected buckets to cuckoo, removes the" +
      " hashes, keeps the no-false-negative contract, and makes the urls" +
      " re-discoverable") {
    val wh = Files.createTempDirectory("graft-forget-retract").toString
    val io = crawl(wh)
    val seen0 = seenOf(io)
    val nb = io.stat("bloom_buckets").get.toInt
    assert(bucketsOf(io).values.forall(_.kind == FilterBucket.KindBloom))

    val targets1 = Seq(url(5), url(6))
    val hashes1 = targets1.map(hashOf).toSet
    val r1 = SeenMaintenance.forgetUrls(spark, wh, targets1, reseed = false)
    assert(r1.retractedSeen == 2)
    assert(r1.reseeded == 0)
    assert(r1.bucketsRebuiltToCuckoo >= 1)
    assert(r1.bucketsCuckooDeleted == 0)
    assert(seenOf(io) == seen0 -- hashes1)

    val buckets1 = bucketsOf(io)
    val cuckooBuckets = buckets1.filter(_._2.kind == FilterBucket.KindCuckoo).keySet
    assert(cuckooBuckets == hashes1.map(CrawlEngine.bloomBucket(_, nb)))
    // the retracted hashes are genuinely negative-cached out again
    hashes1.foreach { h =>
      assert(!buckets1(CrawlEngine.bloomBucket(h, nb)).filter.mightContain(h))
    }
    assertNoFalseNegatives(io)

    // second retraction hitting an already-cuckoo bucket takes the
    // incremental remove() path — no rebuild
    val inCuckoo = (0 until 12).map(url)
      .filter { u =>
        val h = hashOf(u)
        (seen0 -- hashes1).contains(h) &&
          cuckooBuckets.contains(CrawlEngine.bloomBucket(h, nb))
      }
      .filterNot(targets1.contains).take(2)
    assert(inCuckoo.nonEmpty, "fixture must have a crawled url in a cuckoo bucket")
    val r2 = SeenMaintenance.forgetUrls(spark, wh, inCuckoo, reseed = false)
    assert(r2.retractedSeen == inCuckoo.size)
    assert(r2.bucketsCuckooDeleted >= 1)
    val buckets2 = bucketsOf(io)
    inCuckoo.foreach { u =>
      val h = hashOf(u)
      val b = buckets2(CrawlEngine.bloomBucket(h, nb))
      assert(b.kind == FilterBucket.KindCuckoo && !b.saturated)
      assert(!b.filter.mightContain(h))
    }
    assertNoFalseNegatives(io)

    // retracted urls are re-crawlable: reseed a page that links to one of
    // them (p4 always links p5 — forward fan-out f=1) and the engine
    // re-discovers the retracted neighborhood as ordinary candidates
    val c1 = io.committedWave
    val linker = url(4)
    assert(site.pages(linker).html.contains("/p5.html"))
    SeenMaintenance.forgetUrls(spark, wh, Seq(linker), reseed = true)
    val io3 = crawl(wh)
    val refetched = io3.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter(s"wave > $c1").select("url").collect().map(_.getString(0)).toSet
    assert(refetched.contains(linker))
    assert(refetched.contains(url(5)), "linker must re-discover retracted p5")
    val allowed = targets1.toSet ++ inCuckoo + linker
    refetched.foreach(u => assert(allowed.contains(u),
      s"only the linker and retracted urls may be re-fetched, got $u"))
    // re-discovered urls re-entered the seen set (as candidates), and the
    // engine's cuckoo addAll path kept the filters consistent
    assert(seenOf(io3).subsetOf(seen0))
    assert(seenOf(io3).contains(hashOf(url(5))))
    assertNoFalseNegatives(io3)
  }

  test("a later pure retraction cancels a pending recrawl request for the" +
      " same url") {
    val wh = Files.createTempDirectory("graft-forget-cancel").toString
    val io = crawl(wh)
    val c0 = io.committedWave
    val target = url(8)
    SeenMaintenance.forgetUrls(spark, wh, Seq(target), reseed = true)
    assert(io.stat("reseed_wave").contains((c0 + 1).toLong))
    // removal request after the recrawl request: the reseed row must not
    // ride back in, and the hash leaves the seen set
    val r = SeenMaintenance.forgetUrls(spark, wh, Seq(target), reseed = false)
    assert(r.retractedSeen == 1)
    assert(io.readWave("reseed", c0 + 1, TableIO.FrontierSchema, lookahead = 1)
      .count() == 0)
    assert(!seenOf(io).contains(hashOf(target)))
    val io2 = crawl(wh)
    val refetched = io2.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter(s"wave > $c0").count()
    assert(refetched == 0, "cancelled recrawl must not fetch anything")
  }

  test("targets still pending their first fetch are skipped, not retracted") {
    val wh = Files.createTempDirectory("graft-forget-pending").toString
    val io = new TableIO(wh, spark)
    val engine = new CrawlEngine(spark, io, config,
      new SyntheticFetcher(site.pages, robots), numPartitions = 4)
    engine.run(2) // stop mid-crawl: wave 2's frontier is staged, unfetched
    val c0 = io.committedWave
    val pending = io.readWave("frontier", c0 + 1, TableIO.FrontierSchema,
      lookahead = 1).select("url").collect().map(_.getString(0))
    assert(pending.nonEmpty, "fixture needs a pending frontier")
    val seen0 = seenOf(io)
    val r = SeenMaintenance.forgetUrls(spark, wh, Seq(pending.head),
      reseed = false)
    assert(r.skippedPending == 1)
    assert(r.retractedSeen == 0)
    assert(seenOf(io) == seen0)
    // the resumed crawl completes and never double-fetches anything
    val io2 = crawl(wh)
    val log = io2.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter("status = 200").select("url").collect().map(_.getString(0))
    assert(log.length == log.distinct.length, "no url fetched twice")
  }

  // ---- documents removal ---------------------------------------------------

  test("dropDocuments rewrites the documents table without the targets") {
    val wh = Files.createTempDirectory("graft-forget-docs").toString
    val io = crawl(wh)
    val docs0 = io.readAll("documents", TableIO.DocumentsSchema)
      .select("doc_id").collect().map(_.getString(0)).toSet
    val target = url(1)
    assert(docs0.contains(target))
    val r = SeenMaintenance.forgetUrls(spark, wh, Seq(target),
      reseed = false, dropDocuments = true)
    assert(r.droppedDocuments == 1)
    val docs1 = io.readAll("documents", TableIO.DocumentsSchema)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(docs1 == docs0 - target)
  }

  // ---- saturated-bucket self-heal ------------------------------------------

  test("a saturated bucket is healed from the seen table on the next wave") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-heal").toString
    val io = crawl(wh)
    val c0 = io.committedWave
    val nb = io.stat("bloom_buckets").get.toInt
    // force-saturate one committed bucket via the maintenance primitives
    // (the same atomic path a real saturation would have persisted through)
    val buckets0 = bucketsOf(io)
    val victim = buckets0.keys.min
    val poisoned = buckets0.values.toSeq
      .map(b => if (b.bucket == victim) b.copy(saturated = true) else b)
    val (k, v) = io.stageGeneration("blooms", c0, poisoned.toDS().toDF())
    io.mergeStats(Map(k -> v))
    assert(bucketsOf(io)(victim).saturated)

    // drive one real wave (reseed a page) — SeenSet.read must heal the
    // bucket: rebuilt as unsaturated cuckoo over its seen hashes
    SeenMaintenance.forgetUrls(spark, wh, Seq(url(3)), reseed = true)
    val io2 = crawl(wh)
    assert(io2.committedWave > c0)
    val healed = bucketsOf(io2)(victim)
    assert(!healed.saturated, "heal must clear saturation")
    assert(healed.kind == FilterBucket.KindCuckoo)
    assertNoFalseNegatives(io2)
  }

  // ---- table compaction ------------------------------------------------------

  test("compactTable folds per-wave partitions into one and the crawl" +
      " resumes on the compacted snapshot") {
    val wh = Files.createTempDirectory("graft-compact").toString
    val io = crawl(wh)
    val seen0 = seenOf(io)
    val blocks0 = io.readAll("unique_blocks", TableIO.UniqueBlocksSchema)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def waveDirs(name: String): Int =
      new java.io.File(wh).listFiles()
        .filter(d => d.getName == name || d.getName.startsWith(name + "_g"))
        .flatMap(_.listFiles()).count(_.getName.startsWith("w"))
    assert(waveDirs("seen") > 1, "fixture crawl must span several waves")

    assert(SeenMaintenance.compactTable(spark, wh, "seen") == seen0.size)
    // a killed attempt's staged (uncommitted) unique_blocks partition must
    // NOT be promoted into the committed snapshot by compaction
    // (unique_blocks is staged at the CURRENT wave, so it has no lookahead)
    import spark.implicits._
    io.stage("unique_blocks", io.committedWave + 1,
      Seq((999999L, 42)).toDF("text_hash", "words"))
    assert(SeenMaintenance.compactTable(spark, wh, "unique_blocks") ==
      blocks0.size)
    assert(waveDirs("seen") == 1)
    assert(waveDirs("unique_blocks") == 1)
    assert(seenOf(io) == seen0)
    assert(io.readAll("unique_blocks", TableIO.UniqueBlocksSchema)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet == blocks0)

    // the engine keeps working against the compacted generations
    val c0 = io.committedWave
    SeenMaintenance.forgetUrls(spark, wh, Seq(url(9)), reseed = true)
    val io2 = crawl(wh)
    val refetched = io2.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter(s"wave > $c0").select("url").collect().map(_.getString(0)).toSet
    assert(refetched == Set(url(9)))
    assert(seenOf(io2) == seen0)
    assertNoFalseNegatives(io2)
  }

  test("auto-compaction (compactEveryWaves) changes nothing observable and" +
      " bounds the partition-directory count") {
    val whPlain = Files.createTempDirectory("graft-autocompact-base").toString
    val whAuto = Files.createTempDirectory("graft-autocompact").toString
    val ioPlain = crawl(whPlain)
    val ioAuto = new TableIO(whAuto, spark)
    new CrawlEngine(spark, ioAuto, config.copy(compactEveryWaves = 2),
      new SyntheticFetcher(site.pages, robots), numPartitions = 4).run()
    assert(ioAuto.committedWave == ioPlain.committedWave)
    assert(seenOf(ioAuto) == seenOf(ioPlain))
    val docsOf = (io: TableIO) =>
      io.readAll("documents", TableIO.DocumentsSchema)
        .select("doc_id", "seq", "wave").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(docsOf(ioAuto) == docsOf(ioPlain))
    assertNoFalseNegatives(ioAuto)
    // compaction bounded the per-table partition count: at most the waves
    // since the last compact (+1 lookahead for seen)
    def waveDirs(wh: String, name: String): Int =
      new java.io.File(wh).listFiles()
        .filter(d => d.getName == name || d.getName.startsWith(name + "_g"))
        .flatMap(_.listFiles()).count(_.getName.startsWith("w"))
    assert(waveDirs(whAuto, "seen") <= 4)
    assert(waveDirs(whAuto, "seen") < waveDirs(whPlain, "seen"))
    // config round-trips (legacy config.json without the field still parses)
    assert(CrawlConfigCodec.fromJson(CrawlConfigCodec.toJson(
      config.copy(compactEveryWaves = 2))).compactEveryWaves == 2)
    assert(CrawlConfigCodec.fromJson(
      CrawlConfigCodec.toJson(config).replace(""""compactEveryWaves":0,""", ""))
      .compactEveryWaves == 0)
  }

  // ---- maintenance-commit atomicity ---------------------------------------

  test("a staged generation is invisible until the atomic manifest flip") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-genflip").toString
    val io = new TableIO(wh, spark)
    io.stage("seen", 0, Seq(1L, 2L, 3L).toDF("url_hash"))
    io.commitWave(0)
    assert(seenOf(io) == Set(1L, 2L, 3L))
    // a crash after writing the replacement but before the manifest flip
    // leaves the old snapshot visible
    val (k, v) = io.stageGeneration("seen", 0, Seq(2L, 3L).toDF("url_hash"))
    assert(seenOf(io) == Set(1L, 2L, 3L))
    io.mergeStats(Map(k -> v))
    assert(seenOf(io) == Set(2L, 3L))
    // stats outside the merge are preserved, and a second flip composes
    io.mergeStats(Map("seen_total" -> 2L))
    assert(io.stat(k).contains(v))
    assert(io.stat("seen_total").contains(2L))
  }
}
