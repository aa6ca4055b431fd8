package graft.crawl

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import java.nio.charset.StandardCharsets

/** Wave-granular checkpointed table storage for crawl state.
  *
  * This is the Iceberg commit contract re-expressed over plain Parquet
  * (SURVEY.md §7: no Iceberg runtime jar ships in this environment): every
  * table is a directory of per-wave Parquet partitions (`w0`, `w1`, …), and
  * a partition is visible iff its wave index is within the committed window
  * recorded in `manifest.json`, which is replaced ATOMICALLY (tmp file +
  * ATOMIC_MOVE rename). A killed run therefore resumes exactly at the last
  * committed wave: partitions staged for an uncommitted wave are invisible
  * and are overwritten on retry (north rule: "a killed run resumes exactly").
  *
  * The manifest ([[TableIO.Manifest]]: committed wave, stats, stop reason)
  * is the only copy of crawl state: the engine and [[SeenMaintenance]] read
  * it afresh instead of caching it, so a maintenance commit between two
  * waves is seen by the next wave of any engine instance. It is parsed by
  * one function and rendered by one; [[commitWave]], [[mergeStats]] and
  * [[setStopReason]] each write one modified copy of it.
  *
  * Tables staged one wave AHEAD (frontier for wave N+1, seen additions) are
  * read with `lookahead = 1`: they were staged before the commit of wave N,
  * so index committedWave+1 is already durable.
  *
  * If an Iceberg runtime is present, only this class changes: `commitWave`
  * becomes a multi-table snapshot commit, reads become snapshot reads.
  */
final class TableIO(val warehouse: String, spark: SparkSession) {
  import TableIO._

  /** Current generation root of a table. Generation 0 is the bare table
    * directory (every legacy warehouse); a maintenance operation that must
    * REPLACE a table's contents atomically (seen-set compaction, filter
    * retraction, reseed merge — [[SeenMaintenance]]) writes the replacement
    * under `<name>_g<g+1>` while the manifest still points at g, then flips
    * `gen_<name>` in one atomic manifest replace. A crash at any point
    * leaves a fully consistent snapshot visible — the Iceberg
    * snapshot-replace commit re-expressed over plain directories.
    */
  private def tableGen(name: String): Long = stat(s"gen_$name").getOrElse(0L)
  private def tableRoot(name: String): String = {
    val g = tableGen(name)
    if (g == 0L) s"$warehouse/$name" else s"$warehouse/${name}_g$g"
  }
  private def waveDir(name: String, wave: Int) = s"${tableRoot(name)}/w$wave"
  private val manifestPath = s"$warehouse/manifest.json"

  // All driver-side warehouse IO goes through the Hadoop FileSystem
  // resolved from the warehouse path, so the same warehouse works on
  // file:// (local) and hdfs://; table reads/writes already do
  // (spark.read/df.write). The atomic-replace primitive is scheme-
  // dependent: java.nio ATOMIC_MOVE on the local filesystem (Hadoop's
  // FileContext.rename(OVERWRITE) falls back to delete-then-rename
  // there — a crash window that would lose the manifest), and
  // FileContext.rename(OVERWRITE) on HDFS, where the NameNode makes it
  // atomic. Object stores without atomic rename need a real commit
  // service (Iceberg et al.) — the class doc's substitution point.
  private val fs: FileSystem = new HPath(warehouse).getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private val isLocalFs = fs.getScheme == "file"
  private lazy val fctx: FileContext = FileContext.getFileContext(
    fs.makeQualified(new HPath(warehouse)).toUri,
    spark.sparkContext.hadoopConfiguration)

  private def exists(path: String): Boolean = fs.exists(new HPath(path))

  private def readString(path: String): String = {
    val in = fs.open(new HPath(path))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** tmp-write + atomic rename-with-overwrite (see scheme note above). */
  private def atomicWrite(path: String, content: String): Unit = {
    if (isLocalFs) {
      val target = java.nio.file.Paths.get(
        fs.makeQualified(new HPath(path)).toUri.getPath)
      val tmp = java.nio.file.Paths.get(target.toString + ".tmp")
      java.nio.file.Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new HPath(path + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
      fctx.rename(fs.makeQualified(tmp), fs.makeQualified(new HPath(path)),
        Options.Rename.OVERWRITE)
    }
  }

  fs.mkdirs(new HPath(warehouse))

  /** The committed crawl state; [[Manifest.Fresh]] for a fresh warehouse. */
  def manifest: Manifest =
    if (!exists(manifestPath)) Manifest.Fresh else Manifest.parse(readString(manifestPath))

  /** Last committed wave; -2 for a fresh warehouse (bootstrap commits -1). */
  def committedWave: Int = manifest.committedWave

  /** A long-valued stat persisted with the last commit (e.g. max_seq). */
  def stat(name: String): Option[Long] = manifest.stats.get(name)

  private def write(m: Manifest): Unit = atomicWrite(manifestPath, Manifest.render(m))

  /** One atomic replace of the existing manifest by `f` of it. */
  private def rewrite(f: Manifest => Manifest): Unit =
    write(f(Manifest.parse(readString(manifestPath))))

  /** Stage one table's rows for wave index `wave` (NOT yet visible). */
  def stage[T](name: String, wave: Int, ds: Dataset[T]): Unit =
    ds.write.mode(SaveMode.Overwrite).parquet(waveDir(name, wave))

  /** Delete a staged wave partition. Needed by DATA-DEPENDENT staging: a
    * table staged only when rows exist (e.g. `errors`) can leave a stale
    * partition behind when a killed run staged it, the resumed wave
    * produces no rows, and the commit then makes the orphan visible —
    * the resumed wave must delete it instead. Driver-side fs call, no
    * Spark job. Refuses committed (visible) partitions.
    */
  def deleteStaged(name: String, wave: Int): Unit = {
    require(wave > committedWave, s"wave $wave is committed, not staged")
    val d = new HPath(waveDir(name, wave))
    if (fs.exists(d)) fs.delete(d, true)
  }

  /** Atomically commit `wave`, with lineage stats and an optional terminal
    * stop reason (a stopped crawl stays stopped across resumes).
    *
    * Maintenance-owned keys ([[Manifest.carriedByCommit]]) are carried
    * forward from the current manifest: the engine restates ITS stats every
    * wave, but a generation pointer it does not know about must survive the
    * commit or every generation-flipped table would silently fall back to
    * its (dropped) bare directory.
    */
  def commitWave(wave: Int, stats: Map[String, Long] = Map.empty,
      stopReason: Option[String] = None): Unit = {
    val carried = manifest.stats.filter { case (k, _) => Manifest.carriedByCommit(k) }
    write(Manifest(wave, carried ++ stats, stopReason)) // caller wins on conflict
  }

  /** Atomically merge stats into the CURRENT manifest without advancing the
    * committed wave — the maintenance-commit primitive ([[SeenMaintenance]]):
    * replacement table generations are fully written (invisible) BEFORE this
    * single atomic replace flips their `gen_<name>` pointers, so a crash at
    * any point leaves either the old or the new snapshot visible, never a
    * mix. `clearStopReason` re-opens a terminally-stopped crawl (deliberate
    * operator action, e.g. forget-and-recrawl).
    */
  def mergeStats(stats: Map[String, Long],
      clearStopReason: Boolean = false): Unit = {
    require(!stats.contains("committed_wave"), "use commitWave to advance waves")
    rewrite(m => m.copy(stats = m.stats ++ stats,
      stopReason = if (clearStopReason) None else m.stopReason))
  }

  /** Write `df` as the single wave-`atWave` partition of the NEXT generation
    * of `name` — INVISIBLE until the caller's [[mergeStats]] flips
    * `gen_<name>` to the returned value. Re-running after a crash recomputes
    * the same generation number and overwrites the orphan.
    */
  def stageGeneration(name: String, atWave: Int, df: DataFrame): (String, Long) = {
    val g = tableGen(name) + 1
    df.write.mode(SaveMode.Overwrite).parquet(s"$warehouse/${name}_g$g/w$atWave")
    (s"gen_$name", g)
  }

  /** Best-effort removal of superseded generation directories of `name`
    * (safe any time after the flip committed; a crash here only leaves
    * invisible orphans).
    */
  def dropOldGenerations(name: String): Unit = {
    val g = tableGen(name)
    if (g > 0) {
      val bare = new HPath(s"$warehouse/$name")
      if (fs.exists(bare)) fs.delete(bare, true)
      (1L until g).foreach { k =>
        val d = new HPath(s"$warehouse/${name}_g$k")
        if (fs.exists(d)) fs.delete(d, true)
      }
    }
  }

  /** Record a terminal stop reason against the CURRENT committed manifest
    * (same atomic replace as commitWave) — used when a stop is decided at
    * run()-exit rather than at a wave boundary (e.g. max_waves).
    */
  def setStopReason(reason: String): Unit =
    rewrite(_.copy(stopReason = Some(reason)))

  /** Union of all visible wave partitions of a table. */
  def readAll(name: String, schema: StructType, lookahead: Int = 0): DataFrame = {
    val maxWave = committedWave + lookahead
    val root = tableRoot(name) // resolve the generation once, not per wave
    val dirs = (0 to maxWave).map(w => s"$root/w$w")
      .filter(exists)
    if (dirs.isEmpty) emptyDf(spark, schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Persisted crawl config (the reference's `_wordslab/config.txt`
    * round-trip, `WebsiteExtractorParams.cs:139-199`): written at
    * bootstrap, re-read on resume so callers can continue with overrides
    * instead of re-supplying an identical config.
    */
  private val configPath = s"$warehouse/config.json"

  def writeConfig(json: String): Unit = atomicWrite(configPath, json)

  def readConfig(): Option[String] =
    if (exists(configPath)) Some(readString(configPath)) else None

  /** Whether a wave partition exists on disk AND is visible. */
  def waveExists(name: String, wave: Int, lookahead: Int = 0): Boolean =
    wave <= committedWave + lookahead && exists(waveDir(name, wave))

  /** Rows of exactly one visible wave partition. */
  def readWave(name: String, wave: Int, schema: StructType, lookahead: Int = 0): DataFrame = {
    val d = waveDir(name, wave)
    if (wave > committedWave + lookahead || !exists(d)) emptyDf(spark, schema)
    else spark.read.schema(schema).parquet(d)
  }
}

object TableIO {
  // each table's schema, parsed from its DDL once — every read of every
  // wave reuses these instead of re-running the SQL parser
  val FrontierSchema: StructType = StructType.fromDDL(
    "url string, url_hash bigint, host string, parent_url string, depth int, " +
    "seq bigint, wave int, is_retry boolean, retry_count int, " +
    "retry_after_sec int, redirect_position int")
  val SeenSchema: StructType = StructType.fromDDL("url_hash bigint")
  val UniqueBlocksSchema: StructType = StructType.fromDDL("text_hash bigint, words int")
  val DocumentsSchema: StructType = StructType.fromDDL(
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, " +
    "title string, lang string, total_words bigint, unique_words bigint, wave int, seq bigint")
  val MetricsSchema: StructType = StructType.fromDDL(
    "wave int, partition_id int, pages bigint, errors bigint, words bigint, " +
    "fetch_ms double, extract_ms double")
  val HostsSchema: StructType = StructType.fromDDL(
    "host string, crawl_delay_ms bigint, robots_txt string, discovered_wave int")
  val ExcludesSchema: StructType = StructType.fromDDL("pattern string, wave int")
  val Window10Schema: StructType = StructType.fromDDL("url string, pct double, ord int")
  val HostCountsSchema: StructType = StructType.fromDDL("host string, pages bigint")
  // v2 (manifest stat blooms_v=2): kind-aware filter buckets — Bloom by
  // default, Cuckoo after a seen-retraction transitions the bucket
  // (FilterBucket). v1 warehouses rebuild from the authoritative seen table.
  val BloomsSchema: StructType = StructType.fromDDL(
    "bucket int, kind int, num_bits bigint, num_hashes int, " +
    "count bigint, saturated boolean, bits binary")
  val FetchLogSchema: StructType = StructType.fromDDL(
    "wave int, seq bigint, url string, host string, depth int, status int, " +
    "content_type string, no_follow boolean, is_error boolean, retry_count int, " +
    "n_links int, n_spans int, total_words bigint, fetch_ms double, " +
    "extract_ms double, css_ms double")
  val ErrorsSchema: StructType = StructType.fromDDL(
    "wave int, seq bigint, url string, host string, status int, " +
    "error_class string, error_message string, error_stack string, retry_count int")

  def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The whole crawl state: the last committed wave, the stats committed
    * with it (totals, seqs, generation pointers, filter layout) and the
    * terminal stop reason. `manifest.json` holds its only copy, read by
    * [[Manifest.parse]] and written by [[Manifest.render]].
    */
  final case class Manifest(committedWave: Int, stats: Map[String, Long] = Map.empty,
      stopReason: Option[String] = None)

  object Manifest {
    val Fresh: Manifest = Manifest(-2)

    /** Keys a wave commit carries forward from the manifest it replaces:
      * the ones [[SeenMaintenance]] owns, the `gen_<table>` generation
      * pointers and `reseed_wave`. The engine restates each stat it keeps
      * at every commit, so any other old key (e.g. the filter layout after
      * a wave that ran without the Bloom path) is dropped.
      */
    def carriedByCommit(key: String): Boolean = key.startsWith("gen_") || key == "reseed_wave"

    def render(m: Manifest): String =
      ((s""""committed_wave":${m.committedWave}""" +:
        m.stats.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}:$v" }) ++
        m.stopReason.map(r => s""""stop_reason":${quote(r)}""")).mkString("{", ",", "}")

    def parse(text: String): Manifest = {
      val f = fields(text)
      Manifest(f.get("committed_wave").fold(-2)(_.toInt),
        (f - "committed_wave" - "stop_reason").map { case (k, v) => k -> v.toLong },
        f.get("stop_reason"))
    }

    /** `s` as a JSON string literal (`"` and `\` escaped). */
    private[crawl] def quote(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

    // "key": "string" | literal; possessive, so long strings do not recurse
    private val Field =
      """"((?:[^"\\]++|\\.)*+)"\s*:\s*(?:"((?:[^"\\]++|\\.)*+)"|([^\s,}"]+))""".r
    private def unescape(s: String): String = s.replaceAll("""(?s)\\(.)""", "$1")

    /** The fields of a flat JSON object (no nesting, no arrays): string
      * values unescaped, other values as their literal text.
      */
    private[crawl] def fields(json: String): Map[String, String] =
      Field.findAllMatchIn(json).map { m =>
        unescape(m.group(1)) -> Option(m.group(2)).fold(m.group(3))(unescape)
      }.toMap
  }
}
