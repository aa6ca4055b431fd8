package graft

import graft.crawl._
import java.nio.file.Files

/** The crawl specs' one path from a site to a crawled warehouse: a fresh
  * warehouse directory, its [[TableIO]], and a [[CrawlEngine]] over a
  * [[SyntheticFetcher]] of the site; plus the two tables the specs compare
  * with the oracle.
  */
trait CrawlFixture extends SharedSpark {

  protected def freshWarehouse(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** An engine crawling `site` under `config` into `io`. */
  protected def engineOn(io: TableIO, site: SyntheticWeb.Site, config: CrawlConfig,
      numPartitions: Int = 4,
      nowMs: () => Long = () => System.currentTimeMillis()): CrawlEngine =
    new CrawlEngine(spark, io, config, new SyntheticFetcher(site.pages, site.robots),
      numPartitions, nowMs)

  /** Runs (or resumes) the crawl of `site` in `warehouse` for at most
    * `waves` waves, with a new engine; the warehouse's tables.
    */
  protected def crawl(warehouse: String, site: SyntheticWeb.Site, config: CrawlConfig,
      waves: Int = Int.MaxValue, numPartitions: Int = 4): TableIO = {
    val io = new TableIO(warehouse, spark)
    engineOn(io, site, config, numPartitions).run(waves)
    io
  }

  /** The URL-seen set, the next wave's staged additions included. */
  protected def seenOf(io: TableIO): Set[Long] =
    io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
      .collect().map(_.getLong(0)).toSet

  /** The documents in seq order. */
  protected def docsOf(io: TableIO): Vector[DocumentRow] = {
    import spark.implicits._
    io.readAll("documents", TableIO.DocumentsSchema).as[DocumentRow]
      .collect().sortBy(_.seq).toVector
  }
}
