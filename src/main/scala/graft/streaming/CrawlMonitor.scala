package graft.streaming

import graft.crawl.TableIO
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types.StructType

/** Cumulative per-host fetch counters held in stream GroupState (top-level:
  * the state Encoder's generated code needs a public constructor).
  */
final case class HostCounts(pages: Long, errors: Long)

/** Live observation of a RUNNING crawl as Structured Streaming over the
  * warehouse tables (A1's PerfMonitor counters, re-expressed as streams —
  * the reference polls an in-process monitor,
  * `WebsiteTextExtractor.cs:640-700`; here the warehouse IS the wire
  * format, so a monitor can run in a DIFFERENT Spark application than the
  * crawl, or on a different machine over a shared filesystem).
  *
  * Wave commits append parquet files under `<warehouse>/<table>/wN/`;
  * the file-source stream picks each wave up as a micro-batch. Aggregates
  * run either stateless-windowed or with EXPLICIT per-key state
  * (`KeyValueGroupedDataset.mapGroupsWithState`) where the semantics need
  * crawl-lifetime accumulation.
  *
  * DELIVERY SEMANTICS, two tiers:
  *  - the file-source streams below are at-least-once across crash-resume
  *    boundaries: they list raw staged files, not the manifest's
  *    committed window, so rows of a wave staged by a killed run and
  *    re-staged on resume (different part-file names under the same
  *    `wN/`) can be observed twice by a monitor that straddled the
  *    crash; in steady state counts are exact, and `ignoreMissingFiles`
  *    keeps the overwrite window from killing the query — the lowest-
  *    latency view (rows appear at STAGE time);
  *  - [[CommittedWaveTailer]] advances only on the manifest's atomic
  *    committed-wave pointer, reading each committed wave as one
  *    micro-batch — a wave staged by a killed CRAWL is never observed
  *    (its files are overwritten on resume BEFORE the commit that makes
  *    them visible), so monitor totals equal the batch surfaces
  *    (`Graft.metrics` / `Graft.fetchLog`) at every drain; exactly-once
  *    with respect to crawl crashes, at-least-once across a crash of the
  *    monitor process itself (see the class doc for the idempotent-sink
  *    contract that closes that window).
  */
object CrawlMonitor {

  /** Streaming view of the per-wave, per-partition metrics lineage. */
  def metricsStream(spark: SparkSession, warehouse: String): DataFrame =
    waveTableStream(spark, warehouse, "metrics", TableIO.MetricsSchema)

  /** Streaming view of the request log (one row per fetch; requires the
    * crawl to run with `logFetches = true`).
    */
  def fetchLogStream(spark: SparkSession, warehouse: String): DataFrame =
    waveTableStream(spark, warehouse, "fetch_log", TableIO.FetchLogSchema)

  private def waveTableStream(spark: SparkSession, warehouse: String,
      table: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      // a resumed wave overwrites its staged dir; listed-but-deleted part
      // files must skip, not kill the monitor (see delivery semantics)
      .option("ignoreMissingFiles", "true")
      .parquet(s"$warehouse/$table")

  /** Per-wave crawl throughput/health rollup — stateless aggregation,
    * run with outputMode("complete") (waves are few; the state is the
    * per-wave totals, bounded by wave count).
    */
  def waveThroughput(metrics: DataFrame): DataFrame =
    metrics.groupBy(col("wave"))
      .agg(sum(col("pages")).as("pages"),
        sum(col("errors")).as("errors"),
        sum(col("words")).as("words"),
        round(sum(col("pages")) * 1000.0 /
          greatest(max(col("fetch_ms")) + max(col("extract_ms")), lit(1.0)), 2)
          .as("pages_per_sec_est"))

  /** Crawl-lifetime health of one host, updated every micro-batch. */
  final case class HostHealth(
      host: String,
      pages: Long,
      errors: Long,
      error_rate: Double,
      flagged: Boolean)

  /** Per-host error-rate gate with EXPLICIT stream state: cumulative
    * (pages, errors) per host held in `GroupState` across micro-batches —
    * a host is flagged once it has `minPages` observations and its
    * crawl-lifetime error rate exceeds `maxErrorRate` (the streaming
    * analog of F4's retroactive auto-exclude, which batches decide per
    * wave). Emits the updated health row for every host seen in the
    * batch; run with outputMode("update").
    *
    * State is O(distinct hosts) — the same bound the batch engine's hosts
    * table carries; entries never expire because host health is
    * crawl-lifetime by definition (a crawl that needs expiry can wrap the
    * call with a watermark + timeout variant).
    */
  /** Exactly-once committed-wave micro-batching over one warehouse table —
    * the manifest-aware monitor tier. The crawl's atomic wave commits
    * already define a totally-ordered micro-batch sequence (the committed-
    * wave pointer is the stream OFFSET), so the tailer needs no file
    * listing and no streaming-engine state:
    *
    *  - `processAvailable` drains every committed-but-unprocessed wave,
    *    invoking `onBatch(wave, df)` with the wave's rows as an ordinary
    *    (distributed, lazily-read) DataFrame — the `Trigger.AvailableNow`
    *    shape;
    *  - a wave staged by a killed run is INVISIBLE until its resume
    *    re-stages (overwriting the same `wN/` dir) and commits — the
    *    tailer reads only post-commit files, so CRAWL crashes can never
    *    cause duplicate or partial observation, and totals match the
    *    batch surfaces (`Graft.metrics`) at every drain;
    *  - the processed offset persists (atomic tmp+move) under
    *    `checkpointDir` AFTER `onBatch` returns, so a restarted monitor
    *    resumes without re-observing completed batches. Across a crash
    *    of the MONITOR ITSELF the guarantee is at-least-once: a kill
    *    between `onBatch` and the offset write re-delivers that one
    *    wave. `onBatch` receives the wave number precisely so a sink
    *    needing end-to-end exactly-once can commit its output keyed (and
    *    deduped) by wave — the standard idempotent-sink contract. The
    *    checkpoint is monitor-local state, independent of the warehouse.
    *
    * Scale: one `readWave` per wave per drain — partition-pruned parquet
    * reads of exactly the new data; driver holds a single Int.
    */
  final class CommittedWaveTailer(
      spark: SparkSession, warehouse: String, table: String,
      schema: StructType, checkpointDir: Option[String] = None) {

    private val io = new TableIO(warehouse, spark)
    private var last: Int = readCheckpoint().getOrElse(-2)

    private def ckFile = checkpointDir.map(d =>
      java.nio.file.Paths.get(d, s"$table.offset"))

    private def readCheckpoint(): Option[Int] = ckFile.flatMap { p =>
      if (java.nio.file.Files.exists(p))
        new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8).trim.toIntOption
      else None
    }

    private def writeCheckpoint(w: Int): Unit = ckFile.foreach { p =>
      java.nio.file.Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, w.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    /** Highest wave already processed (-2 = nothing yet). */
    def processedThroughWave: Int = last

    /** Drain all committed-but-unprocessed waves in order; returns how
      * many micro-batches ran. Tables staged only when rows exist (e.g.
      * `errors`) skip silently on waves without a partition.
      */
    def processAvailable(onBatch: (Int, DataFrame) => Unit): Int = {
      val target = io.committedWave
      var n = 0
      while (last < target) {
        val w = last + 1
        if (io.waveExists(table, w)) {
          onBatch(w, io.readWave(table, w, schema))
          n += 1
        }
        last = w
        writeCheckpoint(w)
      }
      n
    }
  }

  def hostHealth(fetchLog: DataFrame, minPages: Long = 10L,
      maxErrorRate: Double = 0.5): Dataset[HostHealth] = {
    val spark = fetchLog.sparkSession
    import spark.implicits._
    fetchLog.select(col("host"), col("is_error"))
      .as[(String, Boolean)]
      .groupByKey(_._1)
      .mapGroupsWithState[HostCounts, HostHealth](GroupStateTimeout.NoTimeout) {
        (host: String, rows: Iterator[(String, Boolean)],
         state: GroupState[HostCounts]) =>
          val prev = state.getOption.getOrElse(HostCounts(0L, 0L))
          var pages = prev.pages
          var errors = prev.errors
          rows.foreach { case (_, isError) =>
            pages += 1
            if (isError) errors += 1
          }
          state.update(HostCounts(pages, errors))
          val rate = if (pages == 0) 0.0 else errors.toDouble / pages
          HostHealth(host, pages, errors, rate,
            flagged = pages >= minPages && rate > maxErrorRate)
      }
  }
}
