package graft

import graft.crawl._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Top-level library facade — the API surface a user of the reference tool
  * programs against (`wordslab-webscraper [scope] [rootUrl]`, `continue`,
  * `restart`, `dataset` — `wordslab.webscraper/Program.cs:74-139`),
  * re-expressed as a Spark library.
  *
  * {{{
  * import graft.Graft
  * val result = Graft.crawl(spark, CrawlConfig("https://site/", scope),
  *                          new HttpFetcher("mybot"), "/warehouse/site")
  * val docs   = Graft.documents(spark, "/warehouse/site")   // north-rule table
  * Graft.exportDataset(docs, "/out/dataset", lang = Some("en"))
  * }}}
  */
object Graft {

  final case class CrawlResult(
      wavesProcessed: Int,
      pagesCrawled: Long,
      errors: Long,
      stopReason: Option[String],
      warehouse: String)

  /** Start or RESUME a crawl (the `continue` semantics: a warehouse with a
    * committed manifest picks up exactly where it stopped).
    */
  def crawl(spark: SparkSession, config: CrawlConfig, fetcher: Fetcher,
      warehouse: String, numPartitions: Int = 0): CrawlResult = {
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val io = new TableIO(warehouse, spark)
    val engine = new CrawlEngine(spark, io, config, fetcher, parts)
    val waves = engine.run()
    CrawlResult(waves,
      io.stat("pages_total").getOrElse(0L),
      io.stat("errors_total").getOrElse(0L),
      engine.stopReason, warehouse)
  }

  /** The persisted config of a warehouse (written at bootstrap), if any. */
  def persistedConfig(spark: SparkSession, warehouse: String): Option[CrawlConfig] =
    new TableIO(warehouse, spark).readConfig().map(CrawlConfigCodec.fromJson)

  /** `continue` with overrides (WebsiteExtractorParams.cs:139-199 +
    * WebsiteTextExtractor.cs:58-74): resume from the warehouse's PERSISTED
    * config — the caller supplies only the deltas, not a re-typed config —
    * and persist the effective config back for the next resume.
    */
  def continueCrawl(spark: SparkSession, fetcher: Fetcher, warehouse: String,
      overrides: CrawlConfig => CrawlConfig = identity,
      numPartitions: Int = 0): CrawlResult = {
    val io = new TableIO(warehouse, spark)
    val persisted = io.readConfig().map(CrawlConfigCodec.fromJson).getOrElse(
      throw new IllegalArgumentException(
        s"no persisted config in $warehouse — use Graft.crawl for a fresh crawl"))
    val effective = overrides(persisted)
    if (effective != persisted) io.writeConfig(CrawlConfigCodec.toJson(effective))
    crawl(spark, effective, fetcher, warehouse, numPartitions)
  }

  /** `restart` semantics: wipe the warehouse, then crawl fresh. */
  def restart(spark: SparkSession, config: CrawlConfig, fetcher: Fetcher,
      warehouse: String, numPartitions: Int = 0): CrawlResult = {
    // through the Hadoop FS so hdfs://-warehouses restart too (TableIO)
    val p = new org.apache.hadoop.fs.Path(warehouse)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    crawl(spark, config, fetcher, warehouse, numPartitions)
  }

  /** The north-rule documents table: (doc_id, spans, title, lang,
    * total_words, unique_words, wave, seq).
    */
  def documents(spark: SparkSession, warehouse: String): DataFrame =
    new TableIO(warehouse, spark).readAll("documents", TableIO.DocumentsSchema)

  def documentsTyped(spark: SparkSession, warehouse: String): Dataset[DocumentRow] = {
    import spark.implicits._
    documents(spark, warehouse).as[DocumentRow]
  }

  /** Crawl-state tables for inspection/lineage. */
  def metrics(spark: SparkSession, warehouse: String): DataFrame =
    new TableIO(warehouse, spark).readAll("metrics", TableIO.MetricsSchema)
  def seenHashes(spark: SparkSession, warehouse: String): DataFrame =
    new TableIO(warehouse, spark).readAll("seen", TableIO.SeenSchema, lookahead = 1)
  def hostStates(spark: SparkSession, warehouse: String): DataFrame =
    new TableIO(warehouse, spark).readAll("hosts", TableIO.HostsSchema)
  def fetchLog(spark: SparkSession, warehouse: String): DataFrame =
    new TableIO(warehouse, spark).readAll("fetch_log", TableIO.FetchLogSchema)
  /** Error-detail log (S9): one row per failed fetch with the exception
    * class and message (or "HTTP <code>"), appended per wave.
    */
  def errorLog(spark: SparkSession, warehouse: String): DataFrame =
    new TableIO(warehouse, spark).readAll("errors", TableIO.ErrorsSchema)

  // ---- warehouse maintenance (engine extensions; see SeenMaintenance) ----

  /** Recrawl a site section NOW: the matching crawled urls are re-staged
    * into the frontier and re-fetched by the next `crawl`/`continueCrawl`
    * under the same politeness machinery (changed content yields new
    * document rows; unchanged content is gated by first-wins text dedup).
    */
  def recrawlPrefix(spark: SparkSession, warehouse: String,
      prefix: String): SeenMaintenance.ForgetReport =
    SeenMaintenance.forgetPrefix(spark, warehouse, prefix, reseed = true)

  /** Retract urls from the URL-seen set (removal request / undo): they
    * become crawlable again the next time a link to them is discovered;
    * `dropDocuments = true` also rewrites the documents table without
    * their rows (copy-on-write delete).
    */
  def forgetUrls(spark: SparkSession, warehouse: String, urls: Seq[String],
      dropDocuments: Boolean = false): SeenMaintenance.ForgetReport =
    SeenMaintenance.forgetUrls(spark, warehouse, urls, reseed = false,
      dropDocuments = dropDocuments)

  /** Fold a grow-only table (`seen`, `unique_blocks`, `hosts`) into one
    * partition — run periodically on long crawls (a W-wave crawl pays
    * O(W) file listings per read until compacted). Atomic; safe between
    * runs.
    */
  def compactTable(spark: SparkSession, warehouse: String, name: String): Long =
    SeenMaintenance.compactTable(spark, warehouse, name)

  /** The `dataset` entry point (§3.3): filter + gate + split + export. */
  def exportDataset(docs: DataFrame, outDir: String,
      lang: Option[String] = None, minDocsPerSite: Long = 50L): Unit =
    graft.ops.DatasetExport.write(docs, "doc_id", outDir, lang, minDocsPerSite)

  /** Per-document file-tree export (C8): writes every document's three
    * renderings through the reference's URL→path mapping
    * (`html/HtmlFileUtils.cs:102-166`) into
    * `<outDir>/<websitePath>/.../<name>.<lang>.{text.md,dataframe.csv,
    * preview.html}` — the browsable output tree a user of the reference
    * gets next to the parquet warehouse. Files are written
    * partition-parallel on executors (no driver fan-in); returns the
    * website content directory.
    */
  def exportFiles(spark: SparkSession, warehouse: String, outDir: String): String = {
    val config = persistedConfig(spark, warehouse).getOrElse(
      throw new IllegalArgumentException(s"no persisted config in $warehouse"))
    val website = graft.extract.FileExport.websitePath(config.scope, config.rootUrl)
    val contentDir = s"$outDir/$website"
    graft.extract.FileExport.writeFiles(renderAll(spark, warehouse), contentDir)
    contentDir
  }

  /** Legacy-corpus ingest (S6): read a directory tree of the reference's
    * `##`-marker NLPTextDocument text files back into span rows
    * (`wordslab.nlptextdoc/NLPTextDocumentReader.cs:12-226`). Listing and
    * parsing are partition-parallel (binaryFile source, one file per row).
    */
  def readLegacy(spark: SparkSession, dir: String,
      glob: String = "*.txt"): DataFrame =
    graft.extract.LegacyDocSource.read(spark, dir, glob)

  /** Render one document's spans (reference output formats, S5). */
  def toMarkdown(doc: DocumentRow): String =
    graft.extract.SpanRenderers.toMarkdown(doc.title, doc.spans)
  def toCsvDataframe(doc: DocumentRow): String =
    graft.extract.SpanRenderers.toCsv(doc.doc_id, doc.title, doc.spans)
  def toPreviewHtml(doc: DocumentRow): String =
    graft.extract.SpanRenderers.toPreviewHtml(doc.doc_id, doc.title, doc.spans)

  /** All three per-document renderings as a DataFrame
    * (doc_id, lang, markdown, preview_html, csv), with the markdown/preview
    * rendering the UNIQUE view — D4 bottom-up pruning against crawl-wide
    * first-wins ownership of each text hash (a block renders only in the
    * document that first claimed it, `NLPTextAnalyzer.cs:139-152` +
    * `NLPTextDocument.UniqueElements`). Ownership is a window over
    * (text_hash → min (seq, offset)); rendering is partition-parallel.
    */
  def renderAll(spark: SparkSession, warehouse: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = documentsTyped(spark, warehouse)
    val items = docs.flatMap { d =>
      graft.extract.DocAnalysis.analyzableItems(d.spans)
        .map(it => (d.seq, it.offset, it.text_hash))
    }.toDF("seq", "offset", "text_hash")
    val w = Window.partitionBy($"text_hash").orderBy($"seq", $"offset")
    val owned = items.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .groupBy($"seq").agg(collect_set($"text_hash").as("owned_hashes"))
      .withColumnRenamed("seq", "owner_seq")
    docs.toDF().join(owned, $"seq" === $"owner_seq", "left")
      .select(struct($"doc_id", $"spans", $"title", $"lang", $"total_words",
        $"unique_words", $"wave", $"seq").as("_1"), $"owned_hashes".as("_2"))
      .as[(DocumentRow, Option[Seq[Long]])]
      .map { case (d, ownedHashes) =>
        val owns = ownedHashes.getOrElse(Seq.empty).toSet
        val isUnique = (h: Long) => owns.contains(h)
        (d.doc_id, d.lang,
          graft.extract.SpanRenderers.toMarkdown(d.title, d.spans, isUnique),
          graft.extract.SpanRenderers.toPreviewHtml(d.doc_id, d.title, d.spans, isUnique),
          graft.extract.SpanRenderers.toCsv(d.doc_id, d.title, d.spans, isUnique))
      }.toDF("doc_id", "lang", "markdown", "preview_html", "csv")
  }
}
