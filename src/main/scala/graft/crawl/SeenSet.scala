package graft.crawl

import graft.core.{BloomFilter64, CuckooFilter64}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** The URL-seen set: the exact `seen` table (authoritative) behind a
  * negative cache of per-bucket filters over its url_hashes, Bloom filters
  * that fall back to Cuckoo filters for deletions. The crawl wave
  * ([[CrawlEngine]]) and retraction ([[SeenMaintenance]]) both go through
  * this module; it owns the bucket layout, the exact probe, the one builder
  * of buckets from seen hashes and the one bucket update.
  *
  * The filters are PARTITION-LOCAL: one [[FilterBucket]] per url_hash
  * bucket ([[CrawlEngine.bloomBucket]]), persisted as the per-wave `blooms`
  * table and applied by zipping rows laid out by bucket with their
  * bucket's filter — no filter bits and no hashes pass through the driver,
  * so the path is the same at a 10^10-URL frontier. A hash the filters rule
  * out skips the exact check; a "maybe seen" one goes through it. False
  * positives only cost that check; false negatives cannot happen, because
  * every hash that enters `seen` is folded into its bucket in the same
  * commit, every retraction deletes only hashes verified present (or
  * rebuilds the bucket from the surviving hashes), and a Cuckoo insert or
  * remove that fails fences its bucket (`saturated`: "maybe" for every key
  * until a rebuild).
  */
object SeenSet {

  /** Manifest `blooms_v` value the persisted filter-bucket layout must carry
    * to be readable ([[read]] rebuilds otherwise). Bumped when
    * [[FilterBucket]]'s row shape changes — v2 added kind/count/saturated
    * for the Bloom→Cuckoo retraction transition.
    */
  val BloomsVersion = 2L

  /** `numBuckets` url_hash buckets, each filter built for `capacity` hashes
    * (Bloom filters at false-positive rate `fpr`).
    */
  final case class Layout(numBuckets: Int, capacity: Long, fpr: Double) {
    /** The config's filter capacity shared out over `numBuckets` buckets. */
    def this(config: CrawlConfig, numBuckets: Int) =
      this(numBuckets, math.max(1024L, config.bloomCapacity / numBuckets), config.bloomFpr)

    def bucketOf(urlHash: Long): Int = CrawlEngine.bloomBucket(urlHash, numBuckets)
  }

  /** The bucket count of the filters committed at `wave`, when they are
    * usable: present, written in the current row layout (`blooms_v`), and
    * keyed on a recorded bucket count (`bloom_buckets` — zipping rows with
    * filters keyed on another count would pair them with the wrong
    * bucket's filter, i.e. FALSE NEGATIVES).
    */
  def persistedBuckets(io: TableIO, wave: Int): Option[Int] =
    io.stat("bloom_buckets").map(_.toInt).filter(_ =>
      io.waveExists("blooms", wave) && io.stat("blooms_v").contains(BloomsVersion))

  /** Manifest stats of a commit that stages the full bucket set keyed on
    * `numBuckets`; `clean` = no staged bucket is saturated, stamped with
    * the blooms generation it was written under.
    */
  def commitStats(io: TableIO, numBuckets: Int, clean: Boolean): Map[String, Long] =
    Map("bloom_buckets" -> numBuckets.toLong, "blooms_v" -> BloomsVersion) ++
      (if (clean) Some("blooms_clean_gen" -> io.stat("gen_blooms").getOrElse(0L)) else None)

  /** `rows` laid out by bucket: the rows of bucket b in partition b. */
  private[graft] def byBucket[T: ClassTag](rows: RDD[T], numBuckets: Int)(
      bucket: T => Int): RDD[T] =
    rows.keyBy(bucket).partitionBy(new HashPartitioner(numBuckets)).values

  private def byHash(hashes: RDD[Long], layout: Layout): RDD[Long] =
    byBucket(hashes, layout.numBuckets)(layout.bucketOf)

  /** The filters wave `wave` applies, laid out by bucket: the previous
    * wave's committed buckets when usable, otherwise built from the
    * authoritative seen table (bootstrap, legacy warehouse, a kill between
    * stage and commit, another bucket count, or the filters engaging late).
    *
    * Saturated buckets are rebuilt from seen as Cuckoo buckets (self-heal:
    * a saturated bucket sends every candidate to the exact check). The
    * previous commit's `blooms_clean_gen` vouches for buckets the engine
    * wrote itself; any other writer (forget) moves `gen_blooms`, and the
    * check then reads the O(numBuckets)-row bucket directory.
    */
  def read(spark: SparkSession, io: TableIO, layout: Layout, wave: Int): RDD[FilterBucket] = {
    import spark.implicits._
    def seen = io.readAll("seen", TableIO.SeenSchema, lookahead = 1)
    if (!persistedBuckets(io, wave - 1).contains(layout.numBuckets))
      build(seen, layout, cuckoo = false)(_ => true)
    else {
      val persisted = io.readWave("blooms", wave - 1, TableIO.BloomsSchema).as[FilterBucket]
      val knownClean = io.stat("blooms_clean_gen").contains(io.stat("gen_blooms").getOrElse(0L))
      val sat = if (knownClean) Set.empty[Int]
        else kinds(persisted).collect { case (b, (_, true)) => b }.toSet
      rebuilt(byBucket(persisted.rdd, layout.numBuckets)(_.bucket), sat, seen, layout)
    }
  }

  /** Bucket → (kind, saturated) of persisted buckets: O(numBuckets) ints. */
  private def kinds(buckets: Dataset[FilterBucket]): Map[Int, (Int, Boolean)] = {
    import buckets.sparkSession.implicits._
    buckets.select($"bucket", $"kind", $"saturated").as[(Int, Int, Boolean)].collect()
      .map { case (b, k, sat) => b -> ((k, sat)) }.toMap
  }

  /** `buckets` (laid out by bucket) with the buckets in `which` replaced by
    * Cuckoo rebuilds from `seen`.
    */
  private def rebuilt(buckets: RDD[FilterBucket], which: Set[Int], seen: DataFrame,
      layout: Layout): RDD[FilterBucket] =
    if (which.isEmpty) buckets
    else buckets.filter(b => !which(b.bucket))
      .zipPartitions(build(seen, layout, cuckoo = true)(which))(_ ++ _)

  /** One bucket built from its seen hashes: a Bloom filter, or a Cuckoo
    * filter sized max(capacity, 2 × hashes) — the rebuild of a bucket that
    * saturated or lost hashes, with headroom for later adds. A failed
    * Cuckoo insert fences the bucket.
    */
  def buildBucket(bucket: Int, hashes: Iterator[Long], layout: Layout,
      cuckoo: Boolean): FilterBucket =
    if (!cuckoo)
      FilterBucket.of(bucket, BloomFilter64.forCapacity(layout.capacity, layout.fpr)).addAll(hashes)
    else {
      val all = hashes.toArray
      FilterBucket.ofCuckoo(bucket,
        CuckooFilter64.forCapacity(math.max(layout.capacity, 2L * all.length))).addAll(all.iterator)
    }

  /** [[buildBucket]] over the url_hashes of the seen-shaped frame `seen`,
    * for every non-empty bucket that `only` selects, laid out by bucket.
    * Only the selected buckets' hashes are shuffled; partition b holds
    * bucket b's hashes.
    */
  def build(seen: DataFrame, layout: Layout, cuckoo: Boolean)(
      only: Int => Boolean): RDD[FilterBucket] =
    byHash(seen.select(col("url_hash")).queryExecution.toRdd.map(_.getLong(0))
      .filter(h => only(layout.bucketOf(h))), layout)
      .mapPartitionsWithIndex { (b, hs) =>
        if (hs.hasNext) Iterator(buildBucket(b, hs, layout, cuckoo)) else Iterator.empty
      }

  /** One bucket after removing `deletes`, then adding `adds`. Adds keep the
    * bucket's kind; a bucket that does not exist yet is built as a Bloom
    * bucket from the adds. Deletes must be hashes verified present in
    * `seen` and may only hit a bucket that does not [[needsRebuild]].
    */
  def updateBucket(bucket: Option[FilterBucket], deletes: Iterator[Long],
      adds: Iterator[Long], layout: Layout): Option[FilterBucket] = bucket match {
    case _ if !deletes.hasNext && !adds.hasNext => bucket
    case Some(b) => Some((if (deletes.hasNext) b.removeAll(deletes) else b).addAll(adds))
    case None =>
      val as = adds.buffered
      Some(buildBucket(layout.bucketOf(as.head), as, layout, cuckoo = false))
  }

  /** [[updateBucket]] over every bucket: `buckets` laid out by bucket,
    * zipped with the deletes and adds laid out the same way. Buckets with
    * no deletes or adds carry over unchanged.
    */
  def update(buckets: RDD[FilterBucket], deletes: RDD[Long], adds: RDD[Long],
      layout: Layout): RDD[FilterBucket] =
    byHash(deletes, layout).zipPartitions(byHash(adds, layout), buckets) {
      (ds, as, bs) => updateBucket(bs.nextOption(), ds, as, layout).iterator
    }

  /** Whether a bucket of `(kind, saturated)` that loses hashes must be
    * rebuilt from the surviving ones: a Bloom bucket cannot delete, a
    * saturated one answers "maybe" for every key until rebuilt, and an
    * absent one (None) has nothing to delete from.
    */
  def needsRebuild(kind: Option[(Int, Boolean)]): Boolean =
    kind.forall { case (k, saturated) => k == FilterBucket.KindBloom || saturated }

  /** The filter buckets after a forget's retractions (`deletes`, verified
    * present) and re-adds (`adds`, verified absent): buckets that lose
    * hashes and [[needsRebuild]] are rebuilt as Cuckoo buckets from
    * `newSeen`, the post-forget seen snapshot (Bloom→Cuckoo on first
    * retraction); every other bucket takes [[update]], so an
    * already-Cuckoo bucket absorbs its deletes as O(deletes) removes. A
    * rebuilt bucket left with no hashes disappears (nothing seen there).
    * Returns the buckets and the counts of rebuilt and Cuckoo-updated
    * buckets, or None when no usable filters are committed at `wave`
    * ([[read]] builds them from seen if they engage later).
    */
  def afterForget(spark: SparkSession, io: TableIO, wave: Int, deletes: RDD[Long],
      adds: RDD[Long], newSeen: DataFrame): Option[(RDD[FilterBucket], Long, Long)] =
    persistedBuckets(io, wave).map { nb =>
      import spark.implicits._
      val layout = new Layout(io.readConfig().map(CrawlConfigCodec.fromJson)
        .getOrElse(CrawlConfig(rootUrl = "")), nb)
      val persisted = io.readWave("blooms", wave, TableIO.BloomsSchema).as[FilterBucket]
      // the buckets the deletes land in: O(numBuckets) ints on the driver
      val deleteBuckets = deletes.mapPartitions(hs => Iterator(hs.map(layout.bucketOf).toSet))
        .collect().flatten.toSet
      val dir = kinds(persisted)
      val rebuild = deleteBuckets.filter(b => needsRebuild(dir.get(b)))
      // the rebuilt buckets' ops are in newSeen already: they skip the update
      def kept(hs: RDD[Long]) = hs.filter(h => !rebuild(layout.bucketOf(h)))
      val updated =
        update(byBucket(persisted.rdd, nb)(_.bucket), kept(deletes), kept(adds), layout)
      (rebuilt(updated, rebuild, newSeen, layout), rebuild.size.toLong,
        deleteBuckets.diff(rebuild).size.toLong)
    }

  /** Exact membership of `rows`' keys in `table`'s `keyCol`: each row with
    * whether its key is present. Only the rows that `lookup` selects are
    * looked up; the others must be known absent (a hash its bucket's
    * filter rules out of `seen`) and come back absent. `keyCount` bounds
    * the looked-up keys.
    *
    * Both branches first find the hits, `table` ⋉ keys, streaming `table`
    * past the keys. While keyCount × 8 B fits
    * spark.sql.autoBroadcastJoinThreshold, the keys are broadcast (one scan
    * of `table`, no shuffle), and the hits — at most keyCount keys — are
    * collected and broadcast to a map-side pass that keeps `rows`' layout.
    * Above the threshold both joins are sort-merge joins: `table` with the
    * keys, then `rows` with the distinct hits. Neither branch broadcasts or
    * collects `table` itself, however large it grows.
    */
  private[graft] def probe[T <: Product : TypeTag](spark: SparkSession, rows: RDD[T],
      table: DataFrame, keyCol: String, keyCount: Long)(key: T => Long,
      lookup: T => Boolean): RDD[(T, Boolean)] = {
    import spark.implicits._
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val keys = rows.filter(lookup).map(key).toDF(keyCol)
    if (threshold >= 0 && keyCount <= threshold / 8) {
      val hits = spark.sparkContext.broadcast(table.select(keyCol)
        .join(broadcast(keys), Seq(keyCol), "left_semi").as[Long].collect().toSet)
      rows.map(r => (r, lookup(r) && hits.value.contains(key(r))))
    } else {
      val hits = table.select(keyCol).hint("merge").join(keys, Seq(keyCol), "left_semi")
        .distinct().withColumn("in", lit(true))
      rows.map(r => (key(r), r)).toDF(keyCol, "row")
        .join(hits.hint("merge"), Seq(keyCol), "left")
        .select($"row", $"in".isNotNull).as[(T, Boolean)].rdd
    }
  }

  /** The rows of `rows` whose key is absent from `table` ([[probe]]). */
  private[graft] def absent[T <: Product : TypeTag : ClassTag](spark: SparkSession,
      rows: RDD[T], table: DataFrame, keyCol: String, keyCount: Long)(key: T => Long,
      lookup: T => Boolean): RDD[T] =
    probe(spark, rows, table, keyCol, keyCount)(key, lookup).collect { case (r, false) => r }
}
