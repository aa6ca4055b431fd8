package graft

import graft.core.ScopeFilter
import graft.crawl._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** A crawl wave's generated code fits Spark's codegen cache: under the
  * default `spark.sql.codegen.cache.maxEntries` (100), a steady Bloom-engaged
  * wave reuses every class the previous wave compiled, so it compiles (almost)
  * nothing. That needs both fewer distinct classes per wave than the cache
  * holds and generated code that is byte-identical from wave to wave (no
  * per-wave literals).
  *
  * Spark keys its cache by class loader as well as by code, so a
  * whole-stage class takes two entries (driver and executor).
  *
  * On the engine before the fused candidate pipeline this crawl compiled
  * 149–153 classes on every wave after the second (six waves: 185, 165, 149,
  * 153, 152, 151): about 160 cache entries per wave, so the LRU evicted each
  * class before the next wave reused it.
  */
class CodegenBudgetSpec extends AnyFunSuite with CrawlFixture {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("steady Bloom-engaged waves hit the codegen cache") {
    val site = SyntheticWeb.generate(SyntheticWeb.Spec(hosts = 2,
      pagesPerHost = 40, hotHostFactor = 1, fanout = 4, treeLinks = true,
      sharedDomain = true))
    // 100 ms minimum delay, 1 s budget: 10 pages per host per wave
    val config = CrawlConfig(rootUrl = site.rootUrl, scope = ScopeFilter.Domain,
      waveBudgetMs = 1000L, maxWaves = 40, bloomMinSeenRows = 5000L)
    val io = new TableIO(freshWarehouse("graft-codegen"), spark)
    CrawlEngine.seedWarehouse(spark, io, config,
      extraSeen = spark.range(10000L).select((col("id") + (1L << 40)).as("url_hash")),
      nowMs = 1L)
    val engine = engineOn(io, site, config)
    val perWave = Iterator.continually {
      val c0 = compiles
      val ran = engine.run(1)
      assert(ran == 0 || engine.lastWaveBloomEngaged, "every wave must take the Bloom path")
      (ran, compiles - c0)
    }.takeWhile(_._1 > 0).map(_._2).take(6).toVector
    info(s"compiles per wave: ${perWave.mkString(", ")}")
    assert(perWave.size >= 4, s"the crawl must run at least 4 waves, ran ${perWave.size}")
    perWave.zipWithIndex.drop(2).foreach { case (n, w) =>
      assert(n <= 20, s"wave $w compiled $n classes (all waves: ${perWave.mkString(", ")})")
    }
  }
}
