package graft

import graft.core.{CuckooFilter64, ScopeFilter, UrlCanonicalizer}
import graft.crawl._
import graft.crawl.TableIO.Manifest
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Seen-set retraction and recrawl (the north rule's "bloom falling back to
  * cuckoo for deletions" clause): forget/reseed semantics, the Bloom→Cuckoo
  * bucket transition, the no-false-negative contract, and the atomicity of
  * the maintenance commit.
  */
class SeenMaintenanceSpec extends AnyFunSuite with CrawlFixture {
  import SeenMaintenanceSpec._

  // zero crawl-delay so maintenance tests don't pay politeness sleeps; the
  // politeness machinery itself is covered by the parity/stop suites
  private val site = {
    val s = SyntheticWeb.generate(
      SyntheticWeb.Spec(hosts = 1, pagesPerHost = 12, hotHostFactor = 1, fanout = 3))
    s.copy(robots = s.robots.map { case (h, r) =>
      h -> r.replaceAll("Crawl-delay: \\d+", "Crawl-delay: 0")
    })
  }
  // bloom engage threshold 0 so the filter-bucket machinery is always real
  private val config = CrawlConfig(rootUrl = site.rootUrl,
    scope = ScopeFilter.Domain, waveBudgetMs = 3000L, maxWaves = 500,
    bloomMinSeenRows = 0L)

  private def url(j: Int): String = SyntheticWeb.pageUrl(0, j)
  private def hashOf(u: String): Long =
    UrlCanonicalizer.urlHash(UrlCanonicalizer.canonicalize(u).get)

  private def crawl(warehouse: String): TableIO = crawl(warehouse, site, config)

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
    val wh = freshWarehouse("graft-forget-reseed")
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
    val io2 = crawl(wh, site.copy(pages = mutated), config)

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
    val wh = freshWarehouse("graft-forget-same")
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
    val wh = freshWarehouse("graft-forget-twice")
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
    val wh = freshWarehouse("graft-forget-retract")
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
    val wh = freshWarehouse("graft-forget-cancel")
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
    val wh = freshWarehouse("graft-forget-pending")
    val io = crawl(wh, site, config, waves = 2) // stop mid-crawl: wave 2's frontier is staged, unfetched
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
    val wh = freshWarehouse("graft-forget-docs")
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
    val wh = freshWarehouse("graft-heal")
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
    val wh = freshWarehouse("graft-compact")
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
    val whPlain = freshWarehouse("graft-autocompact-base")
    val whAuto = freshWarehouse("graft-autocompact")
    val ioPlain = crawl(whPlain)
    val ioAuto = crawl(whAuto, site, config.copy(compactEveryWaves = 2))
    assert(ioAuto.committedWave == ioPlain.committedWave)
    assert(seenOf(ioAuto) == seenOf(ioPlain))
    assert(docsOf(ioAuto) == docsOf(ioPlain))
    def hostsOf(io: TableIO): Set[HostState] = {
      import spark.implicits._
      io.readAll("hosts", TableIO.HostsSchema).as[HostState].collect().toSet
    }
    assert(hostsOf(ioAuto) == hostsOf(ioPlain))
    assertNoFalseNegatives(ioAuto)
    // compaction bounded the per-table partition count: at most the waves
    // since the last compact (+1 lookahead for seen)
    def waveDirs(wh: String, name: String): Int =
      new java.io.File(wh).listFiles()
        .filter(d => d.getName == name || d.getName.startsWith(name + "_g"))
        .flatMap(_.listFiles()).count(_.getName.startsWith("w"))
    assert(waveDirs(whAuto, "seen") <= 4)
    assert(waveDirs(whAuto, "seen") < waveDirs(whPlain, "seen"))
    assert(waveDirs(whAuto, "hosts") < waveDirs(whPlain, "hosts"))
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
    val wh = freshWarehouse("graft-genflip")
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

  // ---- the manifest: one value with one reader and one writer --------------

  private val statKey = Gen.oneOf("gen_seen", "gen_blooms", "gen_reseed",
    "gen_documents", "reseed_wave", "bloom_buckets", "blooms_v",
    "blooms_clean_gen", "seen_total", "pages_total", "max_seq", "next_frontier")
  private val statsGen = Gen.mapOf(Gen.zip(statKey,
    Gen.oneOf(Gen.choose(-3L, 3L), Gen.choose(Long.MinValue, Long.MaxValue))))
  private val plainStop = Gen.oneOf("max_errors", "max_waves", "min_unique_text")
  // stop reasons the manifest must round-trip, beyond the engine's own
  private val stopGen = Gen.option(Gen.frequency(3 -> plainStop, 1 -> Gen.asciiPrintableStr))
  private val opGen: Gen[Op] = Gen.oneOf(
    for (w <- Gen.choose(-1, 9); st <- statsGen; r <- stopGen) yield Commit(w, st, r),
    for (st <- statsGen; c <- Gen.oneOf(true, false)) yield Merge(st, c),
    stopGen.map(r => Stop(r.getOrElse("max_waves"))))

  // the writers of the parent format (before the manifest had one writer):
  // sorted keys at a commit, merged keys and the stop reason appended
  private def legacyCommit(prev: String, wave: Int, stats: Map[String, Long],
      stop: Option[String]): String = {
    val carried = """"((?:gen_[A-Za-z0-9_]+)|reseed_wave)"\s*:\s*(-?\d+)""".r
      .findAllMatchIn(prev).map(m => m.group(1) -> m.group(2).toLong).toMap
    val statsJson = (carried ++ stats).toSeq.sortBy(_._1)
      .map { case (k, v) => s""","$k":$v""" }.mkString
    s"""{"committed_wave":$wave$statsJson${stop.fold("")(r => s""","stop_reason":"$r"""")}}"""
  }
  private def legacyMerge(prev: String, stats: Map[String, Long], clear: Boolean): String = {
    var txt = prev.trim.stripSuffix("}")
    for (k <- stats.keys)
      txt = txt.replaceAll(s""","${java.util.regex.Pattern.quote(k)}"\\s*:\\s*-?\\d+""", "")
    if (clear) txt = txt.replaceAll(""","stop_reason":"[^"]*"""", "")
    txt + stats.toSeq.sortBy(_._1).map { case (k, v) => s""","$k":$v""" }.mkString + "}"
  }
  private def legacyStop(prev: String, r: String): String =
    prev.stripSuffix("}").replaceAll(""","stop_reason":"[^"]*"""", "") +
      s""","stop_reason":"$r"}"""

  test("manifest: render/parse round-trips, a commit carries exactly gen_*" +
      " and reseed_wave, a merge keeps every other key, and the parent's" +
      " formats parse to the same values (property, 200 cases)") {
    val wh = freshWarehouse("graft-manifest")
    val io = new TableIO(wh, spark)
    assert(io.manifest == Manifest.Fresh && io.committedWave == -2)
    val caseGen = for {
      first <- Gen.choose(-1, 9).flatMap(w => Gen.zip(statsGen, stopGen)
        .map { case (st, r) => Commit(w, st, r) })
      ops <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, opGen))
    } yield first :: ops
    val prop = Prop.forAllNoShrink(caseGen) { ops =>
      Files.deleteIfExists(Paths.get(wh, "manifest.json"))
      val plain = ops.forall {
        case Commit(_, _, r) => r.forall(_.matches("[a-z_]+"))
        case Stop(r) => r.matches("[a-z_]+")
        case _ => true
      }
      var model = Manifest.Fresh
      var legacy = ""
      ops.forall { op =>
        op match {
          case Commit(w, st, r) =>
            io.commitWave(w, st, r)
            model = Manifest(w, model.stats.filter { case (k, _) =>
              k.startsWith("gen_") || k == "reseed_wave" } ++ st, r)
            legacy = legacyCommit(legacy, w, st, r)
          case Merge(st, clear) =>
            io.mergeStats(st, clearStopReason = clear)
            model = model.copy(stats = model.stats ++ st,
              stopReason = if (clear) None else model.stopReason)
            legacy = legacyMerge(legacy, st, clear)
          case Stop(r) =>
            io.setStopReason(r)
            model = model.copy(stopReason = Some(r))
            legacy = legacyStop(legacy, r)
        }
        io.manifest == model && Manifest.parse(Manifest.render(model)) == model &&
          io.committedWave == model.committedWave &&
          model.stats.forall { case (k, v) => io.stat(k).contains(v) } &&
          io.manifest.stopReason == model.stopReason &&
          (!plain || Manifest.parse(legacy) == model)
      }
    }
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(200).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("config.json: toJson → fromJson round-trips configs whose rootUrl and" +
      " userAgent hold JSON metacharacters (property, 200 cases)") {
    val meta = Gen.listOf(Gen.frequency(3 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('"', '\\', ',', ':', '}', '{', ' ', '/'))).map(_.mkString)
    val configGen = for {
      root <- meta; ua <- meta
      scope <- Gen.oneOf(ScopeFilter.Domain, ScopeFilter.SubDomain, ScopeFilter.Path)
      depth <- Gen.choose(0, 1000); pages <- Gen.choose(0L, Long.MaxValue)
      uniq <- Gen.choose(0.0, 100.0); fpr <- Gen.choose(1e-9, 0.5)
      compact <- Gen.choose(0, 5); log <- Gen.oneOf(true, false)
    } yield CrawlConfig(rootUrl = "https://h.example/" + root, scope = scope,
      userAgent = ua, maxDepth = depth, maxPagesToCrawl = pages,
      minUniquePct = uniq, bloomFpr = fpr, compactEveryWaves = compact,
      logFetches = log)
    val prop = Prop.forAllNoShrink(configGen) { c =>
      CrawlConfigCodec.fromJson(CrawlConfigCodec.toJson(c)) == c
    }
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(200).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  // ---- an engine instance that outlives a maintenance commit ---------------

  test("an engine instance run across a retraction commits seen_total ==" +
      " count(seen)") {
    val wh = freshWarehouse("graft-forget-live")
    val io = new TableIO(wh, spark)
    val engine = engineOn(io, site, config)
    assert(engine.run(2) == 2)
    val fetched = io.readAll("fetch_log", TableIO.FetchLogSchema)
      .select("url").collect().map(_.getString(0)).toSeq
    val r = SeenMaintenance.forgetUrls(spark, wh, fetched, reseed = false)
    assert(r.retractedSeen > 0)
    assert(engine.run() > 0)
    assert(io.stat("seen_total").contains(seenOf(io).size.toLong))
  }

  test("a reseed forget re-opens a crawl stopped by max_errors for the same" +
      " engine instance, as for a fresh one") {
    val stopAt = config.copy(maxErrors = 1)
    val broken = site.pages - url(1) - url(2) // 404s
    def engineOf(io: TableIO) = engineOn(io, site.copy(pages = broken), stopAt)
    def refetched(io: TableIO, after: Int) = io.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter(s"wave > $after").select("url").collect().map(_.getString(0)).toSet
    val Seq((ioSame, same), (ioFresh, _)) = Seq("graft-reopen-same", "graft-reopen-fresh")
      .map { prefix =>
        val io = new TableIO(freshWarehouse(prefix), spark)
        val engine = engineOf(io)
        engine.run()
        assert(engine.stopReason.contains("max_errors"))
        (io, engine)
      }
    val c0 = ioSame.committedWave
    assert(ioFresh.committedWave == c0)
    for (io <- Seq(ioSame, ioFresh)) assert(SeenMaintenance.forgetUrls(spark,
      io.warehouse, Seq(site.rootUrl), reseed = true).reseeded == 1)
    assert(same.stopReason.isEmpty)
    assert(same.run() > 0)
    assert(engineOf(ioFresh).run() > 0)
    assert(refetched(ioSame, c0).contains(site.rootUrl))
    assert(refetched(ioSame, c0) == refetched(ioFresh, c0))
    assert(ioSame.manifest == ioFresh.manifest.copy(stats = ioFresh.manifest.stats +
      ("start_epoch_ms" -> ioSame.stat("start_epoch_ms").get)))
  }
}

object SeenMaintenanceSpec {
  /** One manifest write: a wave commit, a maintenance merge, a stop. */
  sealed trait Op
  final case class Commit(wave: Int, stats: Map[String, Long], stop: Option[String]) extends Op
  final case class Merge(stats: Map[String, Long], clear: Boolean) extends Op
  final case class Stop(reason: String) extends Op
}
