package perfbench

import graft.core.{BloomFilter64, CuckooFilter64, UrlCanonicalizer}
import graft.crawl._
import org.apache.spark.sql.SparkSession

/** Per-layer figures: listener totals attributed to spans, direct calls
  * into the core and extract layers, and the warehouse on disk.
  */
object Layers {
  type M = Seq[(String, Double)]
  private val MB = 1e6
  @volatile private var blackhole = 0L

  /** `crawl.*` from the slice spans of a traced unit: per-wave figures
    * over the slices that committed a wave, totals over every slice.
    */
  def crawl(rec: Recorder, u: UnitResult, bodyBytes: Long): M = {
    val slices = u.spans.filter(s => s.kind == "wave" || s.kind == "empty_slice")
    val waves = slices.filter(_.kind == "wave").map(rec.stats)
    val all = slices.map(rec.stats)
    val n = math.max(1, waves.size).toDouble
    val wall = all.map(_.span.seconds).sum
    val idle = all.map(_.idleSec).sum
    val shW = all.map(_.shuffleWrite).sum.toDouble
    Seq("crawl.waves" -> waves.size.toDouble,
      "crawl.jobs_per_wave" -> waves.map(_.jobs.size).sum / n,
      "crawl.stages_per_wave" -> waves.map(_.stages).sum / n,
      "crawl.tasks_per_wave" -> waves.map(_.tasks).sum / n,
      "crawl.driver_idle_s" -> idle,
      "crawl.job_busy_s" -> all.map(_.busySec).sum,
      "crawl.idle_share" -> (if (wall > 0) idle / wall else 0.0),
      "crawl.span_coverage" -> (if (u.crawlSec > 0) wall / u.crawlSec else 0.0),
      "crawl.task_s" -> all.map(_.taskSec).sum,
      "crawl.task_cpu_s" -> all.map(_.cpuSec).sum,
      "crawl.gc_s" -> all.map(_.gcSec).sum,
      "crawl.shuffle_write_mb" -> shW / MB,
      "crawl.shuffle_read_mb" -> all.map(_.shuffleRead).sum / MB,
      "crawl.spill_mb" -> all.map(_.spill).sum / MB,
      "crawl.shuffle_write_kb_per_page" -> (if (u.pages > 0) shW / 1e3 / u.pages else 0.0),
      "crawl.shuffle_per_body_byte" -> (if (bodyBytes > 0) shW / bodyBytes else 0.0))
  }

  /** `ops.*` from the query spans of a traced unit. */
  def ops(rec: Recorder, u: UnitResult): M = {
    val qs = u.spans.filter(_.kind == "query").map(s => s.name -> rec.stats(s))
    val perGroup = Workloads.Groups.flatMap { g =>
      val st = qs.filter(q => Workloads.group(q._1) == g).map(_._2)
      Seq(s"ops.$g.jobs" -> st.map(_.jobs.size).sum.toDouble,
        s"ops.$g.tasks" -> st.map(_.tasks).sum.toDouble,
        s"ops.$g.shuffle_mb" -> st.map(s => s.shuffleWrite + s.shuffleRead).sum / MB,
        s"ops.$g.spill_mb" -> st.map(_.spill).sum / MB)
    }
    perGroup :+ ("ops.driver_idle_s" -> qs.map(_._2.idleSec).sum)
  }

  /** Single-threaded `extractOne` over the workload's fetched bodies; the
    * first pass warms the JIT, the second is reported.
    */
  def extract(web: Inputs.Web, oracle: SequentialOracle.Result, taskSec: Double): M = {
    val fetcher = new SyntheticFetcher(web.site.pages, web.site.robots)
    val pages = oracle.crawlOrder.map(e => CrawlEngine.fetchOne(fetcher, e))
    val kb = pages.map(p => if (p.body == null) 0L else p.body.length.toLong).sum / 1e3
    var spans = 0L
    var sec = 0.0
    (0 until 2).foreach { _ =>
      spans = 0L
      val t0 = System.nanoTime()
      pages.foreach(p => spans += CrawlEngine.extractOne(p, 0).spans.size)
      sec = (System.nanoTime() - t0) / 1e9
    }
    val n = math.max(1, pages.size).toDouble
    Seq("extract.us_per_page" -> sec * 1e6 / n,
      "extract.us_per_kb" -> (if (kb > 0) sec * 1e6 / kb else 0.0),
      "extract.spans_per_page" -> spans / n,
      "extract.share_of_task" -> (if (taskSec > 0) sec / taskSec else 0.0))
  }

  /** Repeats `f` (which does `ops` operations) for at least 0.2 s after one
    * warm-up call; nanoseconds per operation.
    */
  private def nsPerOp(ops: Int)(f: => Unit): Double = {
    f
    var reps = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L) { f; reps += 1 }
    (System.nanoTime() - t0).toDouble / (reps.toLong * math.max(1, ops))
  }

  /** `core.*`: canonicalisation and robots checks over the workload's raw
    * hrefs, filter probes over its hashes, and the false-positive rate of
    * the persisted bloom buckets.
    */
  def core(spark: SparkSession, web: Inputs.Web, oracle: SequentialOracle.Result,
      n: Int, warehouse: String, seed: Long): M = {
    val pairs = oracle.crawlOrder.flatMap(e =>
      web.plain.expected.get(e.url).toSeq.flatMap(_.rawHrefs.map(h => (e.url, h))))
    var sink = 0L
    val canonNs = nsPerOp(pairs.size) {
      pairs.foreach { case (b, h) =>
        sink += UrlCanonicalizer.resolve(b, h).flatMap(UrlCanonicalizer.canonicalize).size }
    }
    val cands = pairs.flatMap { case (b, h) =>
      UrlCanonicalizer.resolve(b, h).flatMap(UrlCanonicalizer.canonicalize) }
    val robots = web.site.robots.map { case (h, t) => h -> CompiledRobots.of(t) }
    val ua = web.config.userAgent
    val robotsNs = nsPerOp(cands.size) {
      cands.foreach { c =>
        robots.get(UrlCanonicalizer.host(c))
          .foreach(r => if (r.allowed(UrlCanonicalizer.pathAndQuery(c), ua)) sink += 1) }
    }
    // one bucket's worth of the workload's seen hashes, sized like the engine's
    val cap = math.max(1024L, web.config.bloomCapacity / n)
    val members = (oracle.seen.iterator ++
      (0L until web.preSeeded).iterator.map(_ + Inputs.JunkBase))
      .filter(h => CrawlEngine.bloomBucket(h, n) == 0).toArray
    val probes = Array.tabulate(100000)(i =>
      if (i % 2 == 0 && members.nonEmpty) members(i % members.length) else Inputs.rnd(seed, i.toLong, 23L))
    val bf = BloomFilter64.forCapacity(cap, web.config.bloomFpr)
    members.foreach(bf.add)
    val bloomNs = nsPerOp(probes.length)(probes.foreach(h => if (bf.mightContain(h)) sink += 1))
    val cf = CuckooFilter64.forCapacity(cap)
    members.foreach(cf.add)
    val cuckooNs = nsPerOp(probes.length)(probes.foreach(h => if (cf.mightContain(h)) sink += 1))
    blackhole = sink // keeps the timed loops from being optimised away
    Seq("core.canon_ns_per_link" -> canonNs, "core.robots_ns_per_check" -> robotsNs,
      "core.bloom_probe_ns" -> bloomNs, "core.cuckoo_probe_ns" -> cuckooNs,
      "core.bloom_fpr" -> bloomFpr(spark, warehouse, oracle, web.preSeeded, seed))
  }

  /** False positives of the last committed wave's filter buckets on hashes
    * that were never inserted (0 when the Bloom path never engaged).
    */
  private def bloomFpr(spark: SparkSession, warehouse: String,
      oracle: SequentialOracle.Result, preSeeded: Long, seed: Long): Double = {
    import spark.implicits._
    val io = new TableIO(warehouse, spark)
    val w = io.committedWave
    if (w < 0 || !io.waveExists("blooms", w)) return 0.0
    val buckets = io.readWave("blooms", w, TableIO.BloomsSchema).as[FilterBucket]
      .collect().map(b => b.bucket -> b.filter).toMap
    val nb = buckets.size
    val probes = Iterator.from(0).map(i => Inputs.rnd(seed, i.toLong, 29L))
      .filter(h => !oracle.seen.contains(h) && !(h >= Inputs.JunkBase && h < Inputs.JunkBase + preSeeded))
      .take(200000).toArray
    val fp = probes.count(h => buckets.get(CrawlEngine.bloomBucket(h, nb)).exists(_.mightContain(h)))
    fp.toDouble / probes.length
  }

  val Tables = Seq("documents", "seen", "frontier", "unique_blocks", "blooms",
    "fetch_log", "metrics", "hosts")

  /** Files and bytes on disk per table (generation directories
    * `<table>_g<n>` count toward their table).
    */
  def disk(warehouse: String): (Long, Long, Map[String, Long]) = {
    val root = java.nio.file.Paths.get(warehouse)
    var files = 0L
    var bytes = 0L
    val per = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (java.nio.file.Files.isRegularFile(p)) {
        val sz = java.nio.file.Files.size(p)
        files += 1; bytes += sz
        val rel = root.relativize(p)
        if (rel.getNameCount > 1) per(rel.getName(0).toString.replaceAll("_g\\d+$", "")) += sz
      }
    }
    (files, bytes, per.toMap)
  }

  def tableio(u: UnitResult): M = {
    val (files, bytes, per) = disk(u.warehouse)
    Seq("tableio.files_per_wave" -> files.toDouble / math.max(1, u.waves),
      "tableio.output_mb" -> bytes / MB) ++
      Tables.map(t => s"tableio.$t.mb" -> per.getOrElse(t, 0L) / MB)
  }
}
