package graft.crawl

import graft.core.UrlCanonicalizer
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Seen-set retraction ("forget") and recrawl re-seeding — the engine
  * extension that realizes the north rule's deletion clause: the URL-seen
  * set is a partitioned Bloom filter FALLING BACK TO CUCKOO FOR DELETIONS.
  *
  * The reference has no retraction operation (its seen set only grows,
  * `Abot/Core/InMemoryCrawledUrlRepository.cs`), but a long-lived 10^10-URL
  * crawl needs one: content-freshness recrawls of a site section, operator
  * removal requests, or undoing a section crawled by mistake. Two modes:
  *
  *  - **reseed = true (recrawl now)**: the target URLs are re-staged as
  *    ordinary frontier rows for the next wave and re-fetched under the
  *    exact same politeness machinery. Their hashes STAY in the seen set —
  *    the engine invariant is "in frontier ⊆ in seen" (a candidate's hash
  *    enters seen the moment it enters the frontier); retracting them would
  *    double-fetch any reseeded URL whose re-fetched parent re-emits the
  *    link as a candidate. Re-fetched pages emit a new document row only
  *    where content changed (the F10 unique-text gate applies unchanged).
  *  - **reseed = false (pure retraction)**: the hashes leave the seen set
  *    (and their filter buckets), so the URLs become crawlable again the
  *    next time the crawl discovers a link to them.
  *
  * `dropDocuments = true` additionally rewrites the documents table without
  * the targets' rows (an operator removal request) — the Iceberg
  * copy-on-write delete shape: expensive and rare by design. Operational
  * logs (fetch_log, errors) and the shared unique-text blocks are
  * deliberately untouched.
  *
  * Everything is distributed — joins keyed on url_hash and bucket passes
  * zipped by bucket; the driver holds only scalar counts, the
  * exclude-prefix list, and the O(numPartitions) bucket directories. The
  * exact seen check (which targets are still in `seen`, which re-staged
  * hashes are not) is one [[SeenSet.probe]] of the touched hashes: they are
  * broadcast and `seen` is streamed past them in one scan, so `seen` is
  * never broadcast or collected; past spark.sql.autoBroadcastJoinThreshold
  * it falls back to a sort-merge join against `seen`. The counts the
  * report and the manifest need ride passes that run anyway: one
  * aggregate per step over an already-persisted frame, and `seen_total`
  * as an observe() metric on the seen-generation write. Crash-atomicity reuses
  * the warehouse's manifest contract ([[TableIO.stageGeneration]] /
  * [[TableIO.mergeStats]]): all replacement data is written into invisible
  * next-generation directories first, then ONE atomic manifest replace
  * flips the generation pointers, stats, and stop_reason together. A kill
  * at any point resumes from a consistent snapshot; re-running the forget
  * overwrites the orphans.
  *
  * Filter-bucket maintenance is where the Bloom→Cuckoo fallback lives
  * ([[SeenSet.afterForget]]):
  *  - a bucket losing entries for the FIRST time is rebuilt from its
  *    authoritative surviving hashes as a [[graft.core.CuckooFilter64]]
  *    (Bloom filters cannot delete);
  *  - a bucket that is ALREADY Cuckoo absorbs the retraction as O(deletes)
  *    incremental `remove()`s — no rebuild, no scan of its survivors;
  *  - untouched buckets carry over byte-for-byte (Bloom stays Bloom);
  *  - the no-false-negative contract is fenced by [[FilterBucket]]'s
  *    saturation flag (see its Scaladoc).
  */
object SeenMaintenance {

  /** Outcome of a forget operation. */
  final case class ForgetReport(
      requestedHashes: Long, // distinct known hashes asked to forget
      retractedSeen: Long, // hashes actually removed from the seen set
      reseeded: Long, // frontier rows re-staged for recrawl
      droppedDocuments: Long, // document rows removed (dropDocuments mode)
      bucketsRebuiltToCuckoo: Long, // Bloom (or saturated) buckets rebuilt
      bucketsCuckooDeleted: Long, // already-Cuckoo buckets updated in place
      skippedPending: Long) // targets awaiting their FIRST fetch: not touched

  /** Forget every crawled/known URL under a canonical-URL prefix.
    * Prefix resolution uses the frontier history (every URL that ever held
    * a frontier row); seen hashes of candidates that never passed the crawl
    * filters have no frontier row and are untouched — they would fail the
    * same filters again, so retracting them is pointless. The prefix is
    * canonicalized like any crawl URL (frontier rows store canonical
    * forms — a raw-cased or default-ported prefix would match nothing).
    */
  def forgetPrefix(spark: SparkSession, warehouse: String, prefix: String,
      reseed: Boolean = true, dropDocuments: Boolean = false): ForgetReport = {
    val io = new TableIO(warehouse, spark)
    val canonPrefix = UrlCanonicalizer.canonicalize(prefix).getOrElse(prefix)
    val targets = io.readAll("frontier", TableIO.FrontierSchema, lookahead = 1)
      .filter(col("url").startsWith(canonPrefix))
    forget(spark, io, targets, reseed, dropDocuments)
  }

  /** Forget an explicit URL list (canonicalized here; uncanonicalizable
    * entries are ignored).
    */
  def forgetUrls(spark: SparkSession, warehouse: String, urls: Seq[String],
      reseed: Boolean = true, dropDocuments: Boolean = false): ForgetReport = {
    import spark.implicits._
    val io = new TableIO(warehouse, spark)
    val canon = urls.flatMap(UrlCanonicalizer.canonicalize(_)).distinct
    val hashes = canon.map(UrlCanonicalizer.urlHash).toDF("url_hash")
    val targets = io.readAll("frontier", TableIO.FrontierSchema, lookahead = 1)
      .join(hashes, Seq("url_hash"), "left_semi")
    forget(spark, io, targets, reseed, dropDocuments)
  }

  /** Fold a grow-only table's per-wave partitions into ONE wave-0
    * partition behind the atomic generation flip — `seen`, `unique_blocks`
    * and `hosts` grow a partition directory per wave, so a crawl of W
    * waves pays O(W) driver `exists()` calls on every `readAll` and O(W)
    * parquet footers per scan; a 10^4-wave crawl wants this periodically.
    * Lossless for the engine, which reads these tables whole, never wave
    * by wave (`hosts` rows keep their discovery wave as a column).
    * Returns the row count of the compacted snapshot.
    */
  def compactTable(spark: SparkSession, warehouse: String,
      name: String): Long = {
    val io = new TableIO(warehouse, spark)
    val (schema, genVal) = compactWith(spark, io, name)
    // the read-back count is the OPERATOR's confirmation — the engine's
    // auto-compaction hook calls compactWith directly and skips this job
    spark.read.schema(schema)
      .parquet(s"${io.warehouse}/${name}_g$genVal/w0").count()
  }

  /** Same, over an existing TableIO and without the read-back count — the
    * engine's auto-compaction hook (`CrawlConfig.compactEveryWaves`) runs
    * this between wave commits. Returns (schema, newGeneration).
    */
  private[graft] def compactWith(spark: SparkSession, io: TableIO,
      name: String): (StructType, Long) = {
    // lookahead mirrors each table's staging contract: seen is staged one
    // wave AHEAD (visible at committedWave+1); unique_blocks and hosts are
    // staged at the current wave, so a lookahead read could promote a
    // killed attempt's uncommitted staged partition into the committed
    // snapshot
    val (schema, lookahead) = name match {
      case "seen" => (TableIO.SeenSchema, 1)
      case "unique_blocks" => (TableIO.UniqueBlocksSchema, 0)
      case "hosts" => (TableIO.HostsSchema, 0)
      case other => throw new IllegalArgumentException(
        s"compactTable supports seen, unique_blocks and hosts, not '$other'")
    }
    require(io.committedWave >= -1, "compact needs a bootstrapped warehouse")
    val all = io.readAll(name, schema, lookahead)
    val (genKey, genVal) = io.stageGeneration(name, atWave = 0, all)
    io.mergeStats(Map(genKey -> genVal))
    io.dropOldGenerations(name)
    (schema, genVal)
  }

  /** Core operation over frontier-shaped target rows. */
  private def forget(spark: SparkSession, io: TableIO, targets: DataFrame,
      reseed: Boolean, dropDocuments: Boolean): ForgetReport = {
    import spark.implicits._
    val c = io.committedWave
    require(c >= -1, "forget needs a bootstrapped warehouse")

    val seen = io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
    // targets still awaiting their FIRST fetch (rows in the next wave's
    // staged frontier) are excluded: they will be fetched momentarily, a
    // reseed row would duplicate the fetch, and retracting their hashes
    // while the frontier row stands would break "in frontier ⊆ in seen"
    // (the staged lookahead partition is not atomically rewritable — the
    // reseed table is the only frontier-shaped table forget may touch)
    val enginePending = io
      .readWave("frontier", c + 1, TableIO.FrontierSchema, lookahead = 1)
      .select($"url_hash").distinct().withColumn("__pending", lit(true))
    val flaggedTargets = targets
      .join(enginePending, Seq("url_hash"), "left").persist()
    // one aggregate materializes the flagged targets and counts both sides
    val targetCounts = flaggedTargets.agg(
      count_distinct(when($"__pending".isNull, $"url_hash")),
      count_distinct(when($"__pending".isNotNull, $"url_hash"))).head()
    val requested = targetCounts.getLong(0)
    val skippedPending = targetCounts.getLong(1)
    val known = flaggedTargets.filter($"__pending".isNull).drop("__pending")
    val stats = Map.newBuilder[String, Long]

    // ---- 1. recrawl re-seeding (reseed mode) ------------------------------
    val reseedWave = c + 1
    // reseed rows an earlier forget left for the next wave, each tagged
    // with whether this forget's targets replace (or cancel) it; only read
    // when such rows exist
    val hasPendingReseed =
      io.stat("reseed_wave").contains(reseedWave.toLong) &&
        io.waveExists("reseed", reseedWave, lookahead = 1)
    def pendingReseed: DataFrame =
      io.readWave("reseed", reseedWave, TableIO.FrontierSchema, lookahead = 1)
        .join(known.select($"url_hash").distinct().withColumn("__replaced", lit(true)),
          Seq("url_hash"), "left")
    // reseededHashes: one per merged reseed row; reseededRows: their
    // count; reseedAll: the persisted frame they come from, released at
    // the end
    val (reseededCount, reseededHashes, reseededRows, reseedAll) = if (!reseed) {
      // pure retraction CANCELS any pending reseed rows for the targets —
      // a removal request issued after a recrawl request wins, and the
      // retracted hashes must not ride back in at the next wave
      if (hasPendingReseed) {
        val pending = pendingReseed
        val cancelled = pending.filter($"__replaced".isNotNull).count()
        if (cancelled > 0) {
          stats += io.stageGeneration("reseed", atWave = reseedWave,
            pending.filter($"__replaced".isNull).drop("__replaced"))
          stats += ("next_frontier" ->
            math.max(0L, io.stat("next_frontier").getOrElse(0L) - cancelled))
        }
      }
      (0L, TableIO.emptyDf(spark, TableIO.SeenSchema), 0L, null)
    } else {
      // one row per target hash: its FIRST frontier appearance (original
      // discovery context — parent, depth), minus rows under a still-active
      // exclude prefix (the retroactive filter outranks recrawl)
      val firstWin = Window.partitionBy($"url_hash").orderBy($"seq", $"wave")
      var rows = known
        .withColumn("rn", row_number().over(firstWin))
        .filter($"rn" === 1).drop("rn")
      val excludes =
        if (io.waveExists("excludes", c))
          io.readWave("excludes", c, TableIO.ExcludesSchema)
            .collect().map(_.getString(0)) // bounded: the exclude-prefix list
        else Array.empty[String]
      excludes.foreach(p => rows = rows.filter(!$"url".startsWith(p)))
      val maxSeq = io.stat("max_seq").getOrElse(0L)
      val assigned = CrawlEngine.assignSeq(spark,
        rows.select($"url", $"url_hash", $"host", $"parent_url", $"depth",
          $"seq".as("orig_seq"), $"redirect_position"),
        Seq("orig_seq"), maxSeq + 1)
        .drop("orig_seq")
        .withColumn("wave", lit(reseedWave))
        .withColumn("is_retry", lit(false))
        .withColumn("retry_count", lit(0))
        .withColumn("retry_after_sec", lit(0))
        .select("url", "url_hash", "host", "parent_url", "depth", "seq",
          "wave", "is_retry", "retry_count", "retry_after_sec",
          "redirect_position")
      // merge with any reseed rows already pending for this wave (repeated
      // forgets before the next run) — the reseed table is generation-
      // flipped like the others, so the merge is crash-atomic too. __src:
      // 1 = assigned now, 0 = pending row kept, -1 = pending row replaced
      // by a re-forgotten target ("new row wins")
      val fresh = assigned.withColumn("__src", lit(1))
      val all = (if (!hasPendingReseed) fresh
        else pendingReseed
          .withColumn("__src", when($"__replaced".isNull, 0).otherwise(-1))
          .drop("__replaced")
          .unionByName(fresh)).persist()
      val srcCounts = all.agg(
        count(when($"__src" === 1, 1)),
        count(when($"__src" === 0, 1)),
        count(when($"__src" === -1, 1))).head()
      val nAssigned = srcCounts.getLong(0)
      val pendingKept = srcCounts.getLong(1)
      // pending rows REPLACED by this forget contributed +1 to
      // next_frontier at their earlier forget, and their replacements
      // count again inside nAssigned — subtract them or repeated forgets
      // drift the fast-empty-gate stat upward (the pure-retraction branch
      // above already decrements symmetrically)
      val replacedPending = srcCounts.getLong(2)
      val merged = all.filter($"__src" >= 0).drop("__src")
      if (nAssigned + pendingKept > 0) {
        stats += io.stageGeneration("reseed", atWave = reseedWave, merged)
        stats += ("reseed_wave" -> reseedWave.toLong)
        stats += ("max_seq" -> (maxSeq + nAssigned))
        // the run-loop fast-empty gate must see the injected work
        stats += ("next_frontier" -> math.max(0L,
          io.stat("next_frontier").getOrElse(0L) + nAssigned - replacedPending))
      }
      (nAssigned, merged.select($"url_hash"), nAssigned + pendingKept, all)
    }

    // ---- 2. seen rewrite. Two deltas, both preserving "in frontier ⊆ in
    // seen": targets that were NOT re-staged leave the seen set (retract —
    // only verified-present hashes, the precondition of FilterBucket
    // .removeAll's safety argument), and re-staged urls whose hashes had
    // been retracted by an EARLIER forget re-enter it (reAdd — a recrawl
    // request must re-fetch exactly once even if the url is rediscovered
    // as a candidate in the same run). Each touched hash is tagged once —
    // target (k) and/or re-staged (r) — and ONE probe of `seen` tells which
    // tagged hashes it holds; both deltas come from that persisted answer.
    // The result becomes generation g+1 as a SINGLE wave-0
    // partition (copy-on-write snapshot replace; the seen table is a set,
    // so folding all waves into one partition is lossless and doubles as
    // compaction).
    val tagged = known.select($"url_hash", lit(true).as("k"), lit(false).as("r"))
      .unionByName(reseededHashes.select($"url_hash", lit(false).as("k"), lit(true).as("r")))
      .groupBy($"url_hash").agg(max($"k").as("k"), max($"r").as("r"))
      .as[(Long, Boolean, Boolean)].rdd
    val answer = SeenSet.probe(spark, tagged, seen, "url_hash", requested + reseededRows)(
      _._1, _ => true).persist()
    // (url_hash, k, r) with whether seen holds it: retract a target that
    // was not re-staged and is in seen; re-add a re-staged hash it lacks
    val deletes = answer.collect { case ((h, true, false), true) => h }
    val adds = answer.collect { case ((h, _, true), false) => h }
    val Seq(retractedCount, reAddCount) = Seq(deletes, adds).map(_.count())
    val (rebuilt, cuckooUpdated) = if (retractedCount == 0 && reAddCount == 0) (0L, 0L) else {
      val obsSeen = Observation()
      val newSeen = seen
        .join(deletes.toDF("url_hash"), Seq("url_hash"), "left_anti")
        .unionByName(adds.toDF("url_hash"))
        .observe(obsSeen, count(lit(1)).as("n"))
      val (genKey, genVal) = io.stageGeneration("seen", atWave = 0, newSeen)
      stats += (genKey -> genVal)
      stats += ("seen_total" -> math.max(1L, obsSeen.get("n").asInstanceOf[Long]))

      // ---- 3. filter buckets: Bloom→Cuckoo on first retraction -----------
      // (re-reading the staged generation keeps the rebuild input and the
      // committed snapshot byte-identical)
      val staged = spark.read.schema(TableIO.SeenSchema)
        .parquet(s"${io.warehouse}/seen_g$genVal/w0")
      SeenSet.afterForget(spark, io, c, deletes, adds, staged).fold((0L, 0L)) {
        case (buckets, rebuilt, cuckooUpdated) =>
          stats += io.stageGeneration("blooms", atWave = c, buckets.toDS().toDF())
          (rebuilt, cuckooUpdated)
      }
    }

    // ---- 4. document removal (operator removal request) ------------------
    // the rewrite counts the rows it drops as an observe() metric
    val droppedDocs = if (!dropDocuments) 0L else {
      val targetUrls = known.select($"url".as("doc_id")).distinct()
        .withColumn("__drop", lit(true))
      val obsDocs = Observation()
      val kept = io.readAll("documents", TableIO.DocumentsSchema)
        .join(targetUrls, Seq("doc_id"), "left")
        .observe(obsDocs, count(when($"__drop".isNotNull, 1)).as("n"))
        .filter($"__drop".isNull).drop("__drop")
      val (genKey, genVal) = io.stageGeneration("documents", atWave = 0, kept)
      stats += (genKey -> genVal)
      obsDocs.get("n").asInstanceOf[Long]
    }

    // ---- 5. the single atomic maintenance commit --------------------------
    io.mergeStats(stats.result(), clearStopReason = reseed && reseededCount > 0)
    io.dropOldGenerations("seen")
    io.dropOldGenerations("blooms")
    io.dropOldGenerations("reseed")
    if (dropDocuments) io.dropOldGenerations("documents")
    flaggedTargets.unpersist(); answer.unpersist()
    if (reseedAll != null) reseedAll.unpersist()
    ForgetReport(requested, retractedCount, reseededCount, droppedDocs,
      rebuilt, cuckooUpdated, skippedPending)
  }
}
