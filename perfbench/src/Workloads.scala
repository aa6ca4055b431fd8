package perfbench

import graft.SparkEntry
import graft.crawl._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

final case class Gate(name: String, ok: Boolean, detail: String)

/** What one unit of a workload did. `opSec` holds the latency of each
  * operation (wave, forget call or query); `timedSec` is the unit's wall
  * time excluding untimed correctness checks.
  */
final class UnitResult {
  var timedSec = 0.0
  var cpuSec = 0.0
  val opSec = ArrayBuffer.empty[Double]
  val waveSec = ArrayBuffer.empty[Double]
  var pages = 0L
  var crawlSec = 0.0
  var forgetSec = 0.0
  var opsSec = 0.0
  var warehouse: String = null
  var waves = 0
  val gates = ArrayBuffer.empty[Gate]
  var failedOps = 0
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val spans = ArrayBuffer.empty[Span]
  val phases = ArrayBuffer.empty[Span]
  val digests = scala.collection.mutable.LinkedHashMap.empty[String, Workloads.Digest]
  def attempted: Int = opSec.size + failedOps + gates.size
  def failed: Int = failedOps + gates.count(!_.ok)
  def gate(name: String, ok: Boolean, detail: => String = ""): Unit =
    gates += Gate(name, ok, if (ok) "" else detail)
}

/** Process CPU time, for the per-unit `cpu_s` metric. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9
}

final class Ctx(val spark: SparkSession, val n: Int, val workDir: String, val seed: Long) {
  private var count = 0
  def freshDir(tag: String): String = {
    count += 1
    val d = new java.io.File(workDir, s"$tag-$count")
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Workloads {

  // ---- timing helpers -------------------------------------------------------

  /** Runs `f` as a timed phase of `u`: wall and process CPU accumulate. */
  def timed[T](u: UnitResult)(f: => T): T = {
    val c0 = Cpu.seconds
    val t0 = System.nanoTime()
    try f finally {
      u.timedSec += (System.nanoTime() - t0) / 1e9
      u.cpuSec += Cpu.seconds - c0
    }
  }

  /** Wave slices: `engine.run(1)` until it reports no work. A slice that
    * did work is a `wave` span and an operation; the last slice, which
    * found none, is an `empty_slice` span. The whole loop is a `crawl`
    * phase; its wall time is returned.
    */
  def crawlWaves(u: UnitResult, engine: CrawlEngine, maxSlices: Int = Int.MaxValue): Double = {
    val tr = new Trace
    var more = true
    var slices = 0
    val (_, phase) = tr.span("crawl", s"phase${u.phases.size}") {
      while (more && slices < maxSlices) {
        val (k, s) = tr.span("wave", s"p${u.phases.size}.slice$slices")(engine.run(1))
        if (k > 0) { u.opSec += s.seconds; u.waveSec += s.seconds; u.waves += 1 }
        else { more = false; tr.spans(tr.spans.size - 1) = s.copy(kind = "empty_slice") }
        slices += 1
      }
    }
    u.phases += phase
    u.spans ++= tr.spans.filter(_ ne phase)
    phase.seconds
  }

  private def pagesOf(io: TableIO, minWave: Int = Int.MinValue): Long = {
    val m = io.readAll("metrics", TableIO.MetricsSchema)
      .filter(col("wave") >= minWave).agg(sum(col("pages"))).head()
    if (m.isNullAt(0)) 0L else m.getLong(0)
  }

  // ---- crawl gates --------------------------------------------------------------

  /** Crawl order, seen set and document ids against the oracle. Junk
    * pre-seeded hashes are checked by count and excluded from the set.
    */
  def oracleGates(u: UnitResult, spark: SparkSession, io: TableIO,
      oracle: SequentialOracle.Result, preSeeded: Long, tag: String): Unit = {
    val order = io.readAll("frontier", TableIO.FrontierSchema, lookahead = 1)
      .groupBy(col("url")).agg(first(col("seq")).as("seq"), max(col("wave")).as("wave"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val want = oracle.crawlOrder.map(e => (e.url, e.seq, e.wave)).toSet
    u.gate(s"$tag.crawl_order", order == want,
      s"engine ${order.size} entries, oracle ${want.size}, differ ${(order diff want).size + (want diff order).size}")
    val seen = io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
    val junkRange = col("url_hash") >= Inputs.JunkBase && col("url_hash") < Inputs.JunkBase + preSeeded
    val real = seen.filter(!junkRange).collect().map(_.getLong(0)).toSet
    val junk = if (preSeeded > 0) seen.filter(junkRange).count() else 0L
    u.gate(s"$tag.seen_set", real == oracle.seen && junk == preSeeded,
      s"engine ${real.size}+$junk junk, oracle ${oracle.seen.size}+$preSeeded")
    val docs = io.readAll("documents", TableIO.DocumentsSchema)
      .select("doc_id", "seq", "wave").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sortBy(d => (d._3, d._2)).toVector
    val wantDocs = oracle.documents.map(d => (d.doc_id, d.seq, d.wave)).sortBy(d => (d._3, d._2))
    u.gate(s"$tag.doc_ids", docs == wantDocs, s"engine ${docs.size} docs, oracle ${wantDocs.size}")
  }

  def fail(u: UnitResult, what: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $what failed: $e")
    u.failedOps += 1
  }

  // ---- seen_churn ---------------------------------------------------------------

  /** The hot host's largest per-wave page count stays within the cap. */
  private def hotHostCap(u: UnitResult, io: TableIO, web: Inputs.Web): Unit = {
    val cap = web.config.maxPagesPerHostPerWave(0)
    val hotMax = io.readAll("fetch_log", TableIO.FetchLogSchema)
      .filter(col("host") === web.hotHost).groupBy(col("wave")).count()
      .agg(max(col("count"))).head()
    val m = if (hotMax.isNullAt(0)) 0L else hotMax.getLong(0)
    u.gate("churn.hot_host_cap", m > 0 && m <= cap, s"hot host max $m per wave, cap $cap")
  }

  /** Pre-seed a fresh warehouse with junk hashes (untimed set-up). */
  def seedChurn(ctx: Ctx, web: Inputs.Web): TableIO = {
    val io = new TableIO(ctx.freshDir("churn"), ctx.spark)
    CrawlEngine.seedWarehouse(ctx.spark, io, web.config,
      extraSeen = ctx.spark.range(web.preSeeded)
        .select((col("id") + Inputs.JunkBase).as("url_hash")))
    io
  }

  /** Every committed wave staged bloom buckets, i.e. took the Bloom path. */
  private def bloomEveryWave(io: TableIO): Boolean =
    io.committedWave >= 0 && (0 to io.committedWave).forall(w => io.waveExists("blooms", w))

  def churnUnit(ctx: Ctx, web: Inputs.Web, fetcher: Fetcher,
      oracle: SequentialOracle.Result, io: TableIO, batch: Int): UnitResult = {
    val u = new UnitResult
    u.warehouse = io.warehouse
    val spark = ctx.spark
    def engine() = new CrawlEngine(spark, io, web.config, fetcher, numPartitions = ctx.n)
    try {
      // stop after two waves, then resume with a fresh engine
      val first = timed(u)(crawlWaves(u, engine(), maxSlices = 2))
      val resume = timed(u)(crawlWaves(u, engine()))
      u.values("seen.resume_s") = resume
      u.crawlSec = first + resume
      val crawled = pagesOf(io)
      oracleGates(u, spark, io, oracle, web.preSeeded, "resume")
      hotHostCap(u, io, web)
      u.gate("churn.bloom_engaged", bloomEveryWave(io), "a wave skipped the Bloom path")

      // three disjoint batches of crawled documents, chosen by the seed
      val docs = oracle.documents.map(_.doc_id)
        .sortBy(d => Inputs.rnd(ctx.seed, graft.core.UrlCanonicalizer.urlHash(d), 17L))
      val Seq(a, b, c) = (0 until 3).map(i => docs.slice(i * batch, (i + 1) * batch))
      val tr = new Trace
      def forget(name: String, urls: Seq[String], reseed: Boolean) = {
        val (r, s) = timed(u)(tr.span("forget", name)(
          SeenMaintenance.forgetUrls(spark, io.warehouse, urls, reseed = reseed)))
        u.opSec += s.seconds
        u.forgetSec += s.seconds
        u.values(s"seen.${name}_s") = s.seconds
        r
      }
      // a: recrawl request — the hashes stay seen, the pages are re-staged
      val ra = forget("forget_a", a, reseed = true)
      u.gate("churn.forget_a_reseeded", ra.reseeded == a.size, s"reseeded ${ra.reseeded} of ${a.size}")
      val waveBefore = io.committedWave
      val recrawl = timed(u)(crawlWaves(u, engine()))
      u.crawlSec += recrawl
      val recrawled = pagesOf(io, waveBefore + 1)
      u.gate("churn.recrawl_pages", recrawled == ra.reseeded,
        s"recrawl fetched $recrawled, reseeded ${ra.reseeded}")
      u.gate("churn.bloom_engaged_recrawl", bloomEveryWave(io), "a recrawl wave skipped the Bloom path")
      // b: retraction — the touched Bloom buckets are rebuilt as Cuckoo
      val rb = forget("forget_b", b, reseed = false)
      u.gate("churn.forget_b_retracted", rb.retractedSeen == b.size,
        s"retracted ${rb.retractedSeen} of ${b.size}")
      u.gate("churn.buckets_to_cuckoo", rb.bucketsRebuiltToCuckoo > 0, "no bucket moved to Cuckoo")
      // c: retraction from buckets that are Cuckoo already — incremental remove
      val rc = forget("forget_c", c, reseed = false)
      u.gate("churn.forget_c_retracted", rc.retractedSeen == c.size,
        s"retracted ${rc.retractedSeen} of ${c.size}")
      u.gate("churn.buckets_cuckoo_deleted", rc.bucketsCuckooDeleted > 0,
        "third forget did not take the incremental Cuckoo path")
      u.spans ++= tr.spans
      u.pages = crawled + recrawled
      u.values ++= Seq(
        "seen.retracted" -> (rb.retractedSeen + rc.retractedSeen).toDouble,
        "seen.reseeded" -> ra.reseeded.toDouble,
        "seen.buckets_to_cuckoo" -> rb.bucketsRebuiltToCuckoo.toDouble,
        "seen.buckets_cuckoo_deleted" -> rc.bucketsCuckooDeleted.toDouble)
    } catch { case e: Exception => fail(u, "seen_churn", e) }
    u
  }

  // ---- ops_corpus ----------------------------------------------------------------

  /** The 42 headline queries of graft.Bench, in its order. */
  val Queries: Seq[String] = Seq(
    "q_agg_pricing", "q_orders_by_priority", "q_rolling_window",
    "q_first_wins", "q_anti_join", "q_semi_join", "q_join_agg",
    "q_topk_per_group", "q_global_topk", "q_hourly_events",
    "q_lang_histogram", "q_split_assign", "q_lang_rebalance", "q_pack_sequences",
    "q_chunk_docs",
    "q_doc_stats", "q_quality",
    "q_pii_scrub", "q_repetition", "q_normalize_text", "q_bpe_tokens",
    "q_lang_guess", "q_dedup_exact", "q_decontam", "q_jaccard_pairs",
    "q_minhash_lsh", "q_exact_substr",
    "q_lm_typicality", "q_simhash_pairs", "q_dedup_clusters", "q_winnow_pairs",
    "q_neardup_export", "q_pipeline_stats", "q_cosine_topk",
    "q_embedding_neardup", "q_ann_lsh", "q_ivf_topk", "q_pq_topk",
    "q_ivfpq_topk",
    "q_media_meta", "q_media_features", "q_media_resize")

  /** Module group of each query, for the per-group listener totals. */
  def group(q: String): String = q match {
    case "q_agg_pricing" | "q_orders_by_priority" | "q_rolling_window" | "q_first_wins" |
         "q_anti_join" | "q_semi_join" | "q_join_agg" | "q_topk_per_group" |
         "q_global_topk" | "q_hourly_events" => "relational"
    case "q_dedup_exact" | "q_decontam" | "q_jaccard_pairs" | "q_minhash_lsh" |
         "q_exact_substr" | "q_simhash_pairs" | "q_dedup_clusters" | "q_winnow_pairs" |
         "q_neardup_export" | "q_pipeline_stats" => "dedup"
    case "q_cosine_topk" | "q_embedding_neardup" | "q_ann_lsh" | "q_ivf_topk" |
         "q_pq_topk" | "q_ivfpq_topk" => "similarity"
    case q if q.startsWith("q_media_") => "multimodal"
    case _ => "text"
  }
  val Groups = Seq("relational", "text", "dedup", "similarity", "multimodal")

  /** Queries that persist intermediate results. */
  private val Persisting = Set("q_lm_typicality", "q_dedup_clusters", "q_neardup_export")

  /** Row hash with doubles rounded to 9 significant digits, so partial
    * aggregation order cannot change the digest.
    */
  private def rowHash(df: DataFrame) = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
        case _: ArrayType | _: MapType | _: StructType => to_json(struct(c))
        case BinaryType => sha2(c, 256)
        case _ => c.cast(StringType)
      }
    }
    xxhash64(cols.toIndexedSeq.map(c => coalesce(c, lit("\u0000null"))): _*)
  }

  /** Row count and order-insensitive digest of a query's result. */
  final case class Digest(rows: Long, xor: Long, sum: Long) {
    def render: String = s"$rows $xor $sum"
  }

  /** Runs one query to the `noop` sink, as graft.Bench does. */
  def runQuery(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()

  /** Runs one query to the `noop` sink (or to parquet under `saveTo`),
    * observing its digest on that write.
    */
  def digestQuery(spark: SparkSession, name: String, dir: String,
      alter: DataFrame => DataFrame = identity, saveTo: Option[String] = None): Digest = {
    val df = alter(SparkEntry.queries(name)(spark, dir))
    val h = rowHash(df)
    val obs = Observation(s"digest_$name")
    val w = df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
        sum(pmod(h, lit(2147483647L))).as("s"))
      .write.mode("overwrite")
    saveTo.fold(w.format("noop").save())(p => w.parquet(s"$p/$name"))
    val m = obs.get
    def l(k: String): Long = m.get(k) match {
      case Some(v: java.lang.Long) => v.longValue
      case _ => 0L
    }
    Digest(l("n"), l("x"), l("s"))
  }

  /** The timed unit: every query once, back to back, to the `noop` sink. */
  def opsUnit(ctx: Ctx, dir: String): UnitResult = {
    val u = new UnitResult
    val tr = new Trace
    Queries.foreach { q =>
      try {
        val (_, s) = timed(u)(tr.span("query", q)(runQuery(ctx.spark, q, dir)))
        u.opSec += s.seconds
        u.values(s"ops.$q.s") = s.seconds
      } catch { case e: Exception => fail(u, q, e) }
    }
    u.spans ++= tr.spans
    u.opsSec = u.timedSec
    u
  }

  /** Untimed correctness pass: every query once, its row count and digest
    * against the recorded ones. `alter` corrupts a result (self-test).
    *
    * The pass runs cold, so it is mostly driver-side compilation; four
    * driver threads overlap it. The queries that persist intermediate
    * results (`Dedup.connectedComponents`, `NgramLm`) share one thread, so
    * that no two concurrent queries share, and drop, one cached plan.
    */
  def opsGates(ctx: Ctx, dir: String, expected: Map[String, String],
      queries: Seq[String] = Queries,
      alter: (String, DataFrame) => DataFrame = (_, df) => df,
      saveTo: Option[String] = None): UnitResult = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val lane = (q: String) =>
      if (Persisting(q)) 0 else 1 + java.lang.Math.floorMod(Queries.indexOf(q), 3)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val lanes = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val runs = (0 until 4).map(i => queries.filter(lane(_) == i)).map(l => Future(l.map { q =>
        q -> scala.util.Try(digestQuery(ctx.spark, q, dir, alter(q, _), saveTo))
      }))
      runs.flatMap(f => Await.result(f, Duration.Inf)).toMap
    } finally pool.shutdown()
    val u = new UnitResult
    queries.foreach { q =>
      lanes(q) match {
        case scala.util.Success(d) => u.digests(q) = d
        case scala.util.Failure(e) => fail(u, q, e)
      }
    }
    u.digests.foreach { case (q, d) =>
      val want = expected.get(q)
      u.gate(s"ops.$q", want.contains(d.render),
        s"got '${d.render}', recorded '${want.getOrElse("none")}'")
    }
    u
  }
}
