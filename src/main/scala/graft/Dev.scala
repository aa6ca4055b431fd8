package graft

import graft.crawl._
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale

/** Developer CLI: `runMain graft.Dev <command> [args]` (`Dev` with no
  * command prints the list). `main` builds each command's session with
  * [[LocalSpark]] and stops it; the command functions take a session and
  * never stop it. End-to-end and per-query timings belong to `perfbench/`.
  */
object Dev {

  /** The generated scale-factor directories (TESTDATA.md). */
  val TestData = "/root/testdata"

  /** A subcommand: its argument synopsis, its session's `local[cpus]` and
    * shuffle partitions, and what it does with the session and its args.
    */
  private final case class Command(synopsis: String, cpus: Int,
      partitions: Int, run: (SparkSession, Array[String]) => Unit)

  private def commands: Seq[(String, Command)] = {
    val crawlCpus = LocalSpark.envCpus(32)
    Seq(
      "demo" -> Command("[warehouseDir] [hosts] [pagesPerHost]",
        LocalSpark.envCpus(8), 8, (spark, a) => demo(spark,
          a.headOption.getOrElse(Files.createTempDirectory("graft-crawl").toString),
          a.lift(1).fold(3)(_.toInt), a.lift(2).fold(8)(_.toInt))),
      "crawl" -> Command("", crawlCpus, crawlCpus,
        (spark, _) => crawl(spark, crawlCpus)),
      "plans" -> Command("[sfDir] [outPath]", 8, 8, (spark, a) =>
        plans(spark, a.headOption.getOrElse(s"$TestData/sf0.01"),
          a.lift(1).getOrElse("PLANS.md"))),
      "plans-to" -> Command("<outDir> <suffix> <q1,q2,...> [sfDir]", 8, 8,
        (spark, a) => plansTo(spark, a(0), a(1),
          a(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          a.lift(3).getOrElse(s"$TestData/sf0.01"))),
      "recall" -> Command("[sfDir]", 32, 32, (spark, a) =>
        recall(spark, a.headOption.getOrElse(s"$TestData/sf0.1"))),
      "query" -> Command("<queryName> [sfDir] [maxRows]", 8, 8, (spark, a) =>
        query(spark, a(0), a.lift(1).getOrElse(s"$TestData/sf0.001"),
          a.lift(2).fold(1000)(_.toInt))),
      "substr-skew" -> Command("", crawlCpus, crawlCpus, (spark, _) =>
        substrSkew(spark, sys.env.getOrElse("GRAFT_EXTRA_DOCS", "40000").toInt)))
  }

  private def usage: String = commands.map { case (name, c) => s"  $name ${c.synopsis}" }
    .mkString("usage: graft.Dev <command> [args]\n", "\n", "")

  def main(args: Array[String]): Unit = {
    val status = run(args, (cpus, partitions, name) =>
      LocalSpark(cpus, partitions, s"graft-dev-$name"))
    if (status != 0) sys.exit(status)
  }

  /** Runs the command `args` names and returns the exit status. `session`
    * (cpus, partitions, command) is called only for a known command; an
    * unknown one prints the usage to stderr and returns 2.
    */
  private[graft] def run(args: Array[String],
      session: (Int, Int, String) => SparkSession): Int =
    commands.toMap.get(args.headOption.getOrElse("")) match {
      case None =>
        Console.err.println(usage)
        2
      case Some(cmd) =>
        val spark = session(cmd.cpus, cmd.partitions, args(0))
        try cmd.run(spark, args.tail) finally spark.stop()
        0
    }

  /** Crawls a seeded synthetic web end to end into `warehouse`, prints the
    * tables and compares them with the sequential oracle: the three
    * `match` lines must read true.
    */
  def demo(spark: SparkSession, warehouse: String, hosts: Int,
      pagesPerHost: Int): Unit = {
    val site = SyntheticWeb.generate(SyntheticWeb.Spec(hosts = hosts, pagesPerHost = pagesPerHost))
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = graft.core.ScopeFilter.Domain)
    val fetcher = new SyntheticFetcher(site.pages, site.robots)
    val io = new TableIO(warehouse, spark)
    val engine = new CrawlEngine(spark, io, config, fetcher, numPartitions = 8)

    val t0 = System.nanoTime()
    val waves = engine.run()
    val secs = (System.nanoTime() - t0) / 1e9

    val docs = io.readAll("documents", TableIO.DocumentsSchema)
    val seen = io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
    val metrics = io.readAll("metrics", TableIO.MetricsSchema)

    println(s"=== engine: $waves waves in ${"%.1f".formatLocal(Locale.ROOT, secs)}s → $warehouse")
    println(s"documents: ${docs.count()}  seen: ${seen.count()}")
    docs.select("doc_id", "lang", "total_words", "unique_words", "wave", "seq")
      .orderBy("seq").show(10, truncate = false)
    metrics.orderBy("wave", "partition_id").show(10)

    val oracle = SequentialOracle.crawl(site, config)
    val engineSeen = seen.collect().map(_.getLong(0)).toSet
    val engineDocs = docs.orderBy("seq").collect()
    println(s"oracle: docs=${oracle.documents.size} seen=${oracle.seen.size} " +
      s"order=${oracle.crawlOrder.size}")
    println(s"seen match: ${engineSeen == oracle.seen}")
    println(s"doc count match: ${engineDocs.length == oracle.documents.size}")
    val docIdsMatch = engineDocs.map(_.getString(0)).toVector == oracle.documents.map(_.doc_id)
    println(s"doc order match: $docIdsMatch")
  }

  /** `Bench`'s main crawl leg alone, for profiling (with GRAFT_TRACE=1):
    * one JSON line, then pages and extract time per wave from `metrics`.
    */
  def crawl(spark: SparkSession, cpus: Int): Unit = {
    val (sec, pages, waves, io) = Bench.crawlBenchIo(spark, cpus)
    println(s"""{"crawl_sec":$sec,"pages":$pages,"waves":$waves,"pps":${pages / sec}}""")
    io.readAll("metrics", TableIO.MetricsSchema)
      .groupBy("wave")
      .agg(sum("pages").as("pages"),
        round(sum("extract_ms") / 1000, 1).as("extract_s_total"),
        round(max("extract_ms") / 1000, 1).as("extract_s_maxpart"),
        count(lit(1)).as("parts"))
      .orderBy("wave").show(50, false)
  }

  /** Queries whose formatted plans PLANS.md records. */
  private val PlanPicks = Seq(
    "q_agg_pricing",     // scan pruning + partial aggregation
    "q_join_agg",        // broadcast the small dim side
    "q_anti_join",       // left_anti on url-hash
    "q_topk_per_group",  // window + filter, single shuffle
    "q_minhash_lsh",     // band-bucket equi-join, no cartesian
    "q_jaccard_pairs",   // the capped set-similarity join over shingle hashes
    "q_winnow_pairs",    // the same join over winnowed fingerprints
    "q_dedup_clusters",  // contraction + stitch rounds over exact cosine pairs
    "q_dedup_exact",     // fingerprint window
    "q_cosine_topk",     // broadcast queries x corpus, rank window
    "q_ivf_topk",        // cell equi-join probe + rerank
    "q_pq_topk",         // the quantizer core, one zero cell: ADC scan + exact rerank
    "q_ivfpq_topk",      // the quantizer core: cell-filtered residual ADC + exact rerank
    "q_export_stats",    // broadcast semi-join export gate
    "q_pii_scrub",       // regexp_replace chain inside codegen
    "q_repetition",      // split/array_distinct inside codegen
    "q_decontam",        // broadcast benchmark shingle set, doc side streams
    "q_normalize_text",  // native UnicodeNormalize expr inside codegen
    "q_pipeline_stats",  // composed decontam->dedup->quality DAG
    "q_lm_typicality",   // capped-count training + shuffle-free scoring
    "q_exact_substr")    // window-hash groupBy, map-side combined; no pairwise blowup

  private def explain(spark: SparkSession, name: String, sfDir: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted")).trim

  /** Writes `explain("formatted")` of the [[PlanPicks]] queries to
    * `outPath` (PLANS.md) — the checked-in record of the physical plans we
    * want: parquet scans with pruned ReadSchema + PushedFilters, broadcast
    * joins for small dims, equi-join (never cartesian) blocking in the
    * pair-mining ops, and whole-stage codegen over the hot paths.
    * `PlanSpec` asserts the load-bearing properties; this file makes the
    * full plans reviewable without running anything.
    */
  def plans(spark: SparkSession, sfDir: String, outPath: String): Unit = {
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `graft.Dev plans`)\n\n")
    sb.append(s"Input: `$sfDir`. What to check per plan: `ReadSchema` lists only\n")
    sb.append("the referenced columns (pruning), `PushedFilters` carries the\n")
    sb.append("predicates (pushdown), small sides appear as `BroadcastHashJoin`/\n")
    sb.append("`BroadcastExchange`, pair-mining joins are hash equi-joins (no\n")
    sb.append("`CartesianProduct`), and hot operators sit inside\n")
    sb.append("`WholeStageCodegen` stages.\n")
    PlanPicks.foreach { name =>
      sb.append(s"\n## $name\n\n```\n").append(explain(spark, name, sfDir)).append("\n```\n")
    }
    Files.write(Paths.get(outPath), sb.toString.getBytes(UTF_8))
    println(s"wrote $outPath (${PlanPicks.size} plans)")
  }

  /** Writes `explain("formatted")` of each of `names` to
    * `<outDir>/<query>_<suffix>.txt` — per-change plan evidence
    * (`plans/rNN/<query>_{before,after}.txt`).
    */
  def plansTo(spark: SparkSession, outDir: String, suffix: String,
      names: Seq[String], sfDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        explain(spark, name, sfDir).getBytes(UTF_8))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
  }

  /** recall@5 against brute force for the PQ and IVF+PQ queries on
    * `sfDir`'s embeddings — the quantitative side of BASELINE.md's
    * equal-recall comparison of `q_pq_topk` and `q_ivfpq_topk`. Prints one
    * JSON line.
    */
  def recall(spark: SparkSession, sfDir: String): Unit = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5))
    def recallOf(s: Set[(Long, Long)]): Double =
      exact.intersect(s).size.toDouble / exact.size
    val pq = recallOf(pairs(Similarity.pqTopK(emb, queries,
      "vec_id", "embedding", k = 5, m = 8, ksub = 16, rerank = 128)))
    def ivfpq(rerank: Int) = recallOf(pairs(Similarity.ivfPqTopK(emb, queries,
      "vec_id", "embedding", k = 5, nlist = 8, nprobe = 4, m = 8, ksub = 16,
      iterations = 2, rerank = rerank)))
    println(s"""{"recall_at_5":{"pq_rerank128":$pq,"ivfpq_np4_rerank128":${ivfpq(128)},"ivfpq_np4_rerank64":${ivfpq(64)}},"sf":"$sfDir"}""")
  }

  /** Prints one `SparkEntry` query's rows as TSV under a header row — the
    * quick look at a single query's output while iterating on it.
    */
  def query(spark: SparkSession, name: String, sfDir: String,
      maxRows: Int): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    println(df.schema.fieldNames.mkString("\t"))
    df.take(maxRows).foreach(r =>
      println(r.toSeq.map(String.valueOf).mkString("\t")))
  }

  /** `exactSubstrDedup`'s hot-window cap under skew: one 40-token
    * boilerplate passage planted in HALF of `nDocs` documents, so its 21
    * interior windows each occur nDocs/2 times and, uncapped, their
    * win_hash keys carry half the corpus into the removal join. Times the
    * removal with the occurrence cap engaged (the hot keys are excluded
    * from the join's build side) and uncapped, on the same persisted corpus.
    */
  def substrSkew(spark: SparkSession, nDocs: Int): Unit = {
    import spark.implicits._
    // every doc: 40 id-unique tokens; even ids additionally carry the SAME
    // 40-token boilerplate (21 shared 20-token windows per hot doc)
    val boiler = (0 until 40).map(i => s"boiler$i").mkString(" ")
    val docs = spark.range(nDocs).select($"id".as("doc_id"),
      concat_ws(" ",
        (0 until 40).map(j => concat(lit(s"u${j}_"), $"id")) :+
          when($"id" % 2 === 0, lit(boiler)).otherwise(lit("")): _*).as("text"))
      .persist()
    docs.count()
    def leg(cap: Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val out = graft.ops.Dedup.exactSubstrDedup(docs, "doc_id", "text",
        minTokens = 20, maxOccurrences = cap)
      val removed = out.agg(sum($"dup_tokens_removed")).head().getLong(0)
      ((System.nanoTime() - t0) / 1e9, removed)
    }
    val (warmSec, _) = leg(1000L) // JIT/codegen warmup, untimed leg
    val (cappedSec, cappedRemoved) = leg(1000L)
    val (uncappedSec, uncappedRemoved) = leg(Long.MaxValue)
    println(substrSkewLine(nDocs, warmSec, cappedSec, cappedRemoved,
      uncappedSec, uncappedRemoved))
    docs.unpersist()
  }

  /** `substr-skew`'s one-line JSON result. Seconds are formatted under
    * Locale.ROOT: a default locale with a decimal comma must not turn
    * `1.234` into `1,234` and break the JSON.
    */
  def substrSkewLine(nDocs: Int, warmSec: Double, cappedSec: Double,
      cappedRemoved: Long, uncappedSec: Double, uncappedRemoved: Long): String = {
    def sec(x: Double) = "%.3f".formatLocal(Locale.ROOT, x)
    s"""{"metric":"exact_substr_skew","docs":$nDocs,"hot_docs":${nDocs / 2},"warm_sec":${sec(warmSec)},"capped_sec":${sec(cappedSec)},"capped_removed":$cappedRemoved,"uncapped_sec":${sec(uncappedSec)},"uncapped_removed":$uncappedRemoved}"""
  }
}
