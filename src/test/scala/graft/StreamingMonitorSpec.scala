package graft

import graft.streaming.CrawlMonitor
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The live-crawl monitor streams: warehouse wave dirs arrive as
  * micro-batches; per-host health accumulates in explicit GroupState
  * across them.
  */
class StreamingMonitorSpec extends AnyFunSuite with CrawlFixture {

  import spark.implicits._

  private def writeFetchLogWave(wh: String, wave: Int,
      rows: Seq[(String, Boolean)]): Unit = {
    // minimal 15-column fetch_log rows matching TableIO.FetchLogSchema
    val df = rows.zipWithIndex.map { case ((host, isError), i) =>
      (wave, (wave * 1000 + i).toLong, s"https://$host/p$i", host, 1,
        if (isError) 500 else 200, "text/html", false, isError, 0,
        0, 0, 10L, 1.0, 1.0)
    }.toDF("wave", "seq", "url", "host", "depth", "status", "content_type",
      "no_follow", "is_error", "retry_count", "n_links", "n_spans",
      "total_words", "fetch_ms", "extract_ms")
    df.coalesce(1).write.mode("overwrite").parquet(s"$wh/fetch_log/w$wave")
  }

  test("hostHealth: explicit per-host state accumulates across micro-batches") {
    val wh = Files.createTempDirectory("graft-monitor").toString
    // wave 0 exists BEFORE the stream starts: a.com 2/4 errors, b.com 0/4
    writeFetchLogWave(wh, 0, Seq(
      ("a.com", true), ("a.com", true), ("a.com", false), ("a.com", false),
      ("b.com", false), ("b.com", false), ("b.com", false), ("b.com", false)))
    val health = CrawlMonitor.hostHealth(
      CrawlMonitor.fetchLogStream(spark, wh), minPages = 6, maxErrorRate = 0.5)
    val q = health.writeStream.outputMode("update")
      .format("memory").queryName("host_health").start()
    try {
      q.processAllAvailable()
      val after0 = spark.table("host_health").collect()
        .map(r => r.getAs[String]("host") ->
          ((r.getAs[Long]("pages"), r.getAs[Long]("errors"), r.getAs[Boolean]("flagged"))))
        .toMap
      assert(after0("a.com") == ((4L, 2L, false)), s"$after0") // under minPages
      assert(after0("b.com") == ((4L, 0L, false)))

      // wave 1 arrives while the stream runs: a.com goes 4 more errors →
      // lifetime 8 pages / 6 errors = 0.75 > 0.5 with minPages met → flagged;
      // the counts must COMBINE with wave 0's (GroupState carried over)
      writeFetchLogWave(wh, 1, Seq(
        ("a.com", true), ("a.com", true), ("a.com", true), ("a.com", true),
        ("b.com", false), ("b.com", false)))
      q.processAllAvailable()
      val latest = spark.table("host_health")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"host")
            .orderBy($"pages".desc)))
        .filter($"rn" === 1).collect()
        .map(r => r.getAs[String]("host") ->
          ((r.getAs[Long]("pages"), r.getAs[Long]("errors"), r.getAs[Boolean]("flagged"))))
        .toMap
      assert(latest("a.com") == ((8L, 6L, true)), s"$latest")
      assert(latest("b.com") == ((6L, 0L, false)), s"$latest")
    } finally q.stop()
  }

  test("waveThroughput: per-wave rollup over the streaming metrics table") {
    val wh = Files.createTempDirectory("graft-monitor2").toString
    Seq((0, 0, 10L, 1L, 100L, 500.0, 900.0))
      .toDF("wave", "partition_id", "pages", "errors", "words", "fetch_ms", "extract_ms")
      .coalesce(1).write.parquet(s"$wh/metrics/w0")
    val q = CrawlMonitor.waveThroughput(CrawlMonitor.metricsStream(spark, wh))
      .writeStream.outputMode("complete")
      .format("memory").queryName("wave_tp").start()
    try {
      q.processAllAvailable()
      assert(spark.table("wave_tp").count() == 1)
      Seq((1, 0, 20L, 0L, 200L, 600.0, 1000.0), (1, 1, 5L, 0L, 50L, 100.0, 200.0))
        .toDF("wave", "partition_id", "pages", "errors", "words", "fetch_ms", "extract_ms")
        .coalesce(1).write.parquet(s"$wh/metrics/w1")
      q.processAllAvailable()
      val rows = spark.table("wave_tp").collect()
        .map(r => r.getAs[Int]("wave") ->
          ((r.getAs[Long]("pages"), r.getAs[Long]("errors")))).toMap
      assert(rows == Map(0 -> ((10L, 1L)), 1 -> ((25L, 0L))), s"$rows")
    } finally q.stop()
  }

  test("CommittedWaveTailer: exact totals across a kill between stage and commit") {
    import graft.crawl._
    import graft.core.ScopeFilter
    val site = SyntheticWeb.generate(
      SyntheticWeb.Spec(hosts = 2, pagesPerHost = 6, hotHostFactor = 1, fanout = 3))
    val wh = freshWarehouse("graft-tailer")
    val ck = Files.createTempDirectory("graft-tailer-ck").toString
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain)
    def engine() = engineOn(new TableIO(wh, spark), site, config, numPartitions = 2)
    engine().run(maxWavesThisRun = 2)
    val io = new TableIO(wh, spark)
    val committed = io.committedWave

    var pagesSeen = 0L
    var wavesSeen = Vector.empty[Int]
    def drain(t: CrawlMonitor.CommittedWaveTailer): Int =
      t.processAvailable { (w, df) =>
        wavesSeen :+= w
        pagesSeen += df.agg(sum($"pages")).head().getLong(0)
      }
    val tailer = new CrawlMonitor.CommittedWaveTailer(
      spark, wh, "metrics", TableIO.MetricsSchema, Some(ck))
    assert(drain(tailer) > 0)
    val pagesAfterTwo = pagesSeen

    // simulate a crawl KILLED between stage and commit: a staged-but-
    // uncommitted metrics partition appears on disk with poison content
    // (a monitor that listed raw files would add 1e9 pages here)
    Seq((committed + 1, 0, 1000000000L, 0L, 0L, 0.0, 0.0))
      .toDF("wave", "partition_id", "pages", "errors", "words",
        "fetch_ms", "extract_ms")
      .write.mode("overwrite").parquet(s"$wh/metrics/w${committed + 1}")
    assert(drain(tailer) == 0, "uncommitted staged wave must be invisible")
    assert(pagesSeen == pagesAfterTwo)

    // resume: the engine re-stages (overwriting the poison) and commits
    engine().run()
    drain(tailer)
    val batchTotal = Graft.metrics(spark, wh).agg(sum($"pages")).head().getLong(0)
    assert(pagesSeen == batchTotal,
      s"tailer saw $pagesSeen pages, batch surface has $batchTotal")
    assert(pagesSeen < 1000000L, "poison rows leaked into the monitor")
    assert(wavesSeen == wavesSeen.sorted && wavesSeen.distinct == wavesSeen,
      "waves must arrive in order, exactly once")

    // a RESTARTED monitor resumes from the checkpoint: nothing re-observed
    val tailer2 = new CrawlMonitor.CommittedWaveTailer(
      spark, wh, "metrics", TableIO.MetricsSchema, Some(ck))
    assert(tailer2.processedThroughWave == tailer.processedThroughWave)
    assert(drain(tailer2) == 0, "restart must not re-deliver committed waves")
    assert(pagesSeen == batchTotal)
  }

  test("hostHealth runs against a REAL crawl's fetch_log warehouse") {
    import graft.crawl._
    import graft.core.ScopeFilter
    val site = SyntheticWeb.generate(
      SyntheticWeb.Spec(hosts = 2, pagesPerHost = 6, hotHostFactor = 1))
    val wh = Files.createTempDirectory("graft-monitor3").toString
    val config = CrawlConfig(rootUrl = site.rootUrl,
      scope = ScopeFilter.Domain, logFetches = true)
    Graft.crawl(spark, config, new SyntheticFetcher(site.pages, site.robots),
      wh, numPartitions = 2)
    val q = CrawlMonitor.hostHealth(CrawlMonitor.fetchLogStream(spark, wh))
      .writeStream.outputMode("update")
      .format("memory").queryName("real_health").start()
    try {
      q.processAllAvailable()
      val total = spark.table("real_health").agg(sum($"pages")).head().getLong(0)
      val logged = Graft.fetchLog(spark, wh).count()
      assert(total == logged, s"stream saw $total of $logged fetches")
    } finally q.stop()
  }
}
