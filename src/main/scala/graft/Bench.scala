package graft

import graft.crawl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.Locale

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR plus the crawl-engine throughput bench, prints ONE
  * JSON line. `SPARK_GRAFT_CPUS` selects the parallelism level — the
  * sandbox stand-in for cluster size (BASELINE.md §4): run at 8 and 32 to
  * evidence the N→4N scaling criterion.
  */
object Bench {

  /** Headline subset: the heavier relational/window/dedup/similarity ops.
    * q_jaccard_pairs is back in the list (round 2): its blocking join is
    * frequency-capped (maxDocFreq), which bounds the hot-shingle quadratic
    * blow-up that forced its round-1 exclusion; q_winnow_pairs joined in
    * round 3 for the same reason, plus the composed q_neardup_export
    * pipeline DAG.
    */
  private val headline = Seq(
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.envCpus(32)
    // optional comma-separated subset for profiling (e.g. isolating one
    // query's wall time from its predecessors'); "nocrawl" skips the crawl leg
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skipCrawl = subset.exists(s => !s.contains("crawl"))
    val spark = LocalSpark(cpus, cpus, "graft-bench")

    // untimed session warmup: JVM/JIT, codegen compilation, and parquet
    // footer reads land here instead of inflating the first timed query
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .limit(1000).agg(count(lit(1))).collect()
    spark.range(1000000).agg(sum(col("id"))).collect()

    // Each query runs REPS times and we record the MIN (plus all samples):
    // on a shared box a single co-scheduled noisy process can inflate one
    // sample several-fold, and two earlier rounds produced phantom
    // regressions that way. min-of-3 cannot be manufactured by contention.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    headline.filter(n => subset.forall(_.contains(n))).foreach { name =>
      val fn = SparkEntry.queries(name)
      // a FAILED rep must not enter the min — an exception thrown after
      // 0.3s would otherwise report a phantom speedup. Failed reps record
      // as negative elapsed in the samples (visible, parseable) and are
      // excluded from the min; all-reps-failed records -1.
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        if (ok) sec else -sec
      }
      val succeeded = times.filter(_ >= 0)
      // an all-reps-failed query is recorded as JSON null in the per-query
      // map plus an explicit "failed" list — never a numeric sentinel that
      // downstream sums/diffs could silently absorb
      if (succeeded.nonEmpty) results(name) = succeeded.min
      else failed += name
      samples(name) = times
    }

    // ---- crawl-engine throughput (pages fetched+extracted per second) ----
    val (crawlSec, pages, waves) =
      if (skipCrawl) (0.0, 0L, 0) else {
        val (sec, pages, waves, _) = crawlBenchIo(spark, cpus)
        (sec, pages, waves)
      }
    if (!skipCrawl) results("crawl") = crawlSec
    val pagesPerSec = if (crawlSec > 0) pages / crawlSec else 0.0

    // ---- scale-evidence legs (VERDICT_r05 #4) -----------------------------
    // (a) the same engine with a 10^6-row PRE-SEEDED seen table: the bloom
    //     negative cache genuinely engages (threshold 200k) and every
    //     wave's candidates are flagged against filter buckets rebuilt from
    //     the authoritative seen set — the shape of a long-running crawl's
    //     late waves, which the fresh-start leg never reaches;
    // (b) a SKEWED web (one host = 50% of all pages) with a binding
    //     per-host wave cap: scheduling-level skew control must bound the
    //     hot host's share of every wave, so wall time tracks corpus size,
    //     not the hot host's serial chain.
    val (seededSec, seededPages, seededBloom, seededWh) =
      if (skipCrawl) (0.0, 0L, false, "") else seededSeenBench(spark, cpus)
    // (c) seen-set retraction over the seeded warehouse: compaction of the
    //     10^6-row seen set + Bloom→Cuckoo bucket transition, then a second
    //     forget through the incremental cuckoo remove() path
    val (forgetSec, forget2Sec, forgetRetracted, forgetToCuckoo, forgetIncr,
      forgetBatch) =
      if (skipCrawl) (0.0, 0.0, 0L, 0L, 0L, 0L) else forgetBench(spark, seededWh)
    val (skewSec, skewPages, skewWaves, skewHotMax) =
      if (skipCrawl) (0.0, 0L, 0, 0L) else skewBench(spark, cpus)
    if (!skipCrawl) {
      results("crawl_seeded_1m") = seededSec
      results("forget_batch_a_1m") = forgetSec
      results("forget_batch_b_incremental") = forget2Sec
      results("crawl_skew") = skewSec
    }

    val seededPps = if (seededSec > 0) seededPages / seededSec else 0.0
    val skewPps = if (skewSec > 0) skewPages / skewSec else 0.0
    println(resultLine(sfDir, cpus, reps, results.toSeq, samples.toSeq,
      failed.toSeq, Seq(
        "crawl_pages" -> pages, "crawl_waves" -> waves,
        "crawl_pages_per_sec" -> pagesPerSec,
        "seeded_seen_rows" -> 1000000, "seeded_bloom_engaged" -> seededBloom,
        "seeded_pages" -> seededPages, "seeded_pages_per_sec" -> seededPps,
        "forget_batch_size" -> forgetBatch, "forget_retracted" -> forgetRetracted,
        "forget_buckets_to_cuckoo" -> forgetToCuckoo,
        "forget_buckets_incremental" -> forgetIncr,
        "skew_pages" -> skewPages, "skew_waves" -> skewWaves,
        "skew_hot_max_per_wave" -> skewHotMax, "skew_pages_per_sec" -> skewPps)))
    spark.stop()
  }

  /** Bench's one JSON line. `value` is the sum of `results` (seconds per
    * query or crawl leg); `failed` queries print as null and stay out of it
    * (a failing query invalidates comparability, it does not make the run
    * faster); `stats` follow in order, Doubles with one decimal. Numbers
    * are formatted under Locale.ROOT: a default locale with a decimal comma
    * must not turn `1.234` into `1,234` and break the JSON.
    */
  def resultLine(sfDir: String, cpus: Int, reps: Int,
      results: Seq[(String, Double)], samples: Seq[(String, Seq[Double])],
      failed: Seq[String], stats: Seq[(String, Any)]): String = {
    def num(digits: Int)(v: Double) = s"%.${digits}f".formatLocal(Locale.ROOT, v)
    def str(s: String) = "\"" + s + "\""
    def obj(fields: Seq[(String, String)]) =
      fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    val queries = results.map { case (k, v) => k -> num(3)(v) } ++
      failed.map(_ -> "null")
    val sampled = samples.map { case (k, vs) => k -> vs.map(num(3)).mkString("[", ",", "]") }
    obj(Seq("metric" -> str("total"), "value" -> num(3)(results.map(_._2).sum),
      "unit" -> str("sec"), "queries" -> obj(queries), "samples" -> obj(sampled),
      "failed" -> failed.map(str).mkString("[", ",", "]"),
      "reps" -> reps.toString, "sf" -> str(sfDir), "cpus" -> cpus.toString) ++
      stats.map {
        case (k, v: Double) => k -> num(1)(v)
        case (k, v) => k -> v.toString
      })
  }

  // ~60 ms CPU per page stands in for parsing + analyzing realistically-
  // sized pages (~100 KB of HTML through a browser-grade parser; the
  // synthetic fixtures are ~2 KB so their real parse cost is ~30x off);
  // override for profiling via GRAFT_EXTRACT_COST_NANOS
  private lazy val extractCostNanos =
    sys.env.get("GRAFT_EXTRACT_COST_NANOS").map(_.toLong).getOrElse(60000000L)

  /** One crawl leg: crawls `spec`'s synthetic web to completion with `cpus`
    * partitions on a fresh warehouse — seeded with `extraSeen` hashes first
    * when given — and returns (sec, waves, engine, io).
    */
  private def timedCrawl(spark: SparkSession, cpus: Int,
      spec: SyntheticWeb.Spec, waveBudgetMs: Long, logFetches: Boolean,
      extraSeen: Option[DataFrame] = None): (Double, Int, CrawlEngine, TableIO) = {
    val site = SyntheticWeb.generate(spec)
    val config = CrawlConfig(rootUrl = site.rootUrl,
      scope = graft.core.ScopeFilter.Domain, waveBudgetMs = waveBudgetMs,
      maxWaves = 60, logFetches = logFetches,
      simulatedExtractCostNanos = extractCostNanos)
    // 0.2 ms simulated fetch CPU (socket bookkeeping; network latency is
    // WALL time handled by politeness pacing, not CPU, so it does not
    // belong in the per-host-serial fetch partition)
    val fetcher = SyntheticFetcher.broadcast(spark, site,
      simulatedCostNanos = 200000L)
    val io = new TableIO(
      java.nio.file.Files.createTempDirectory("graft-bench").toString, spark)
    extraSeen.foreach(seen =>
      CrawlEngine.seedWarehouse(spark, io, config, extraSeen = seen))
    val engine = new CrawlEngine(spark, io, config, fetcher, numPartitions = cpus)
    val t0 = System.nanoTime()
    val waves = engine.run()
    ((System.nanoTime() - t0) / 1e9, waves, engine, io)
  }

  private def metricsPages(io: TableIO): Long =
    io.readAll("metrics", TableIO.MetricsSchema)
      .agg(sum(col("pages"))).head().getLong(0)

  /** Seeded synthetic-web crawl: tree-shaped links (BFS depth ~log_f n) so
    * waves are large and the engine — not wave-loop fixed cost — dominates.
    * Fixed simulated per-page fetch cost exercises the politeness/schedule/
    * extract pipeline rather than the absent network. Politeness caps stay
    * real but non-binding; request-log I/O is excluded from the measured
    * loop. Returns (sec, pages, waves, io).
    */
  def crawlBenchIo(spark: SparkSession, cpus: Int,
      hosts: Int = 24, pagesPerHost: Int = 1250): (Double, Long, Int, TableIO) = {
    val (sec, waves, _, io) = timedCrawl(spark, cpus, SyntheticWeb.Spec(
      hosts = hosts, pagesPerHost = pagesPerHost, hotHostFactor = 3,
      fanout = 64, seed = 42L, treeLinks = true, sharedDomain = true),
      waveBudgetMs = 600000L, logFetches = false)
    (sec, metricsPages(io), waves, io)
  }

  /** Scale-evidence leg (a): crawl over a warehouse whose seen table is
    * PRE-SEEDED with `preSeeded` junk hashes (offset past any real
    * url_hash range), so seen_total clears bloomMinSeenRows from wave 0 —
    * the bloom buckets rebuild distributedly from the million-row seen
    * set and every wave's candidates are flagged against them. Returns
    * (sec, pages, bloomEngaged, warehousePath) — the warehouse feeds the
    * retraction leg ([[forgetBench]]).
    */
  def seededSeenBench(spark: SparkSession, cpus: Int,
      preSeeded: Long = 1000000L,
      hosts: Int = 12, pagesPerHost: Int = 250): (Double, Long, Boolean, String) = {
    // hashes offset to 2^40+ never collide with real 64-bit url hashes in
    // practice, so crawl results are those of a fresh crawl while the seen
    // machinery carries 10^6 rows
    val junk = spark.range(preSeeded).select((col("id") + (1L << 40)).as("url_hash"))
    val (sec, _, engine, io) = timedCrawl(spark, cpus, SyntheticWeb.Spec(
      hosts = hosts, pagesPerHost = pagesPerHost, hotHostFactor = 3,
      fanout = 64, seed = 43L, treeLinks = true, sharedDomain = true),
      waveBudgetMs = 600000L, logFetches = false, extraSeen = Some(junk))
    (sec, metricsPages(io), engine.lastWaveBloomEngaged, io.warehouse)
  }

  /** Scale-evidence leg (c): seen-set retraction (SeenMaintenance) against
    * the seeded warehouse — the million-row seen table is compacted minus
    * `forgetCount` crawled urls, the affected filter buckets transition
    * Bloom→Cuckoo, and a SECOND forget exercises the incremental cuckoo
    * remove() path (no rebuild). Returns (firstSec, secondSec,
    * retractedTotal, bucketsToCuckoo, bucketsIncremental, batchSize).
    */
  def forgetBench(spark: SparkSession, warehouse: String,
      forgetCount: Int = 2000): (Double, Double, Long, Long, Long, Long) = {
    import org.apache.spark.sql.functions.col
    val io = new TableIO(warehouse, spark)
    val crawled = io.readAll("documents", TableIO.DocumentsSchema)
      .select(col("doc_id")).limit(2 * forgetCount)
      .collect().map(_.getString(0))
    // equal-size batches so the two legs' timings are comparable even when
    // the crawl produced fewer than 2*forgetCount documents
    val k = math.min(forgetCount, crawled.length / 2)
    val (first, second) = (crawled.take(k), crawled.slice(k, 2 * k))
    val t0 = System.nanoTime()
    val r1 = SeenMaintenance.forgetUrls(spark, warehouse, first.toSeq,
      reseed = false)
    val sec1 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val r2 = SeenMaintenance.forgetUrls(spark, warehouse, second.toSeq,
      reseed = false)
    val sec2 = (System.nanoTime() - t1) / 1e9
    (sec1, sec2, r1.retractedSeen + r2.retractedSeen,
      r1.bucketsRebuiltToCuckoo, r2.bucketsCuckooDeleted, k.toLong)
  }

  /** Scale-evidence leg (b): one host owns 50% of all pages (hosts-1
    * normal hosts vs one hotHostFactor = hosts-1 host) and the per-host
    * wave budget BINDS (cap = waveBudgetMs / minCrawlDelay = 150), so the
    * scheduler must spread the hot host across waves instead of letting
    * its serial chain own the crawl. Returns (sec, pages, waves,
    * hot-host max pages in any wave) — the last value is the cap
    * evidence, also asserted ≤ cap in CrawlParitySpec.
    */
  def skewBench(spark: SparkSession, cpus: Int,
      hosts: Int = 8, pagesPerHost: Int = 150): (Double, Long, Int, Long) = {
    val (sec, waves, _, io) = timedCrawl(spark, cpus, SyntheticWeb.Spec(
      hosts = hosts, pagesPerHost = pagesPerHost, hotHostFactor = hosts - 1,
      fanout = 64, seed = 44L, treeLinks = true, sharedDomain = true),
      waveBudgetMs = 15000L, // cap = 15000/100ms = 150 pages/host/wave: BINDS
      logFetches = true) // per-(wave, host) counts are this leg's evidence
    val log = io.readAll("fetch_log", TableIO.FetchLogSchema)
    val hotMax = log.groupBy(col("wave"), col("host"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    (sec, log.count(), waves, hotMax)
  }
}
