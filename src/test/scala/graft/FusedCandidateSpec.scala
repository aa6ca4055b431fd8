package graft

import graft.core.BloomFilter64
import graft.crawl._
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

/** The wave's fused candidate step — Bloom-flagged first occurrences
  * ([[CrawlEngine.flagFirsts]]), the exact seen check
  * ([[SeenSet.absent]]) and the capped seq numbering
  * ([[CrawlEngine.capAndNumber]]) — equals the reference formulation: the
  * first occurrence per url_hash by (parent_seq, link_index), minus `seen`,
  * then the maxLinksPerPage cap per parent, then dense seqs from
  * prevMaxSeq + 1 in (parent_seq, link_index) order.
  */
class FusedCandidateSpec extends AnyFunSuite {
  import FusedCandidateSpec.Wave

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val NumBuckets = 3

  // a small hash domain (negative values included): duplicates within and
  // across pages, seen and unseen hashes, and empty pages are all common
  private val hash = Gen.choose(-9L, 9L)
  private val genWave = for {
    pages <- Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.choose(0, 5).flatMap(Gen.listOfN(_, hash))))
    seen <- Gen.listOf(hash)
    fps <- Gen.listOf(hash)
    engaged <- Gen.oneOf(true, false)
    cap <- Gen.choose(1, 4)
    start <- Gen.choose(1L, 1000L)
    bc <- Gen.oneOf(true, false)
  } yield Wave(pages, seen.toSet, fps.toSet -- seen, engaged, cap, start, bc)

  private def reference(w: Wave): Seq[(Long, Long, Int, Long)] = {
    val links = for {
      (hs, p) <- w.pages.zipWithIndex
      (h, i) <- hs.zipWithIndex
    } yield (h, p.toLong, i)
    val firsts = links.groupBy(_._1).values.map(_.minBy(l => (l._2, l._3))).toSeq
    val capped = firsts.filterNot(l => w.seen.contains(l._1))
      .groupBy(_._2).values.flatMap(_.sortBy(_._3).take(w.cap)).toSeq
    capped.sortBy(l => (l._2, l._3)).zipWithIndex
      .map { case ((h, p, i), k) => (h, p, i, w.start + k) }
  }

  private def fused(w: Wave): Seq[(Long, Long, Int, Long)] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val cands = for {
      (hs, p) <- w.pages.zipWithIndex
      (h, i) <- hs.zipWithIndex
    } yield CandidateLink(p.toLong, s"https://a.test/p$p", 0, i, s"$p/$i", h,
      "a.test", 0, 1) // the url records (parent_seq, link_index)
    // every seen hash (and each false positive) is in its bucket's filter;
    // a bucket with none of them has no filter at all
    val filters = (w.seen ++ w.falsePositives).groupBy(CrawlEngine.bloomBucket(_, NumBuckets))
      .map { case (b, hs) =>
        val bf = BloomFilter64.forCapacity(64, 0.01)
        hs.foreach(bf.add)
        FilterBucket.of(b, bf, hs.size.toLong)
      }.toSeq
    val blooms = SeenSet.byBucket(
      sc.parallelize(if (w.engaged) filters else Nil, 2), NumBuckets)(_.bucket)
    val flagged = CrawlEngine.flagFirsts(sc.parallelize(cands, 3), blooms,
      w.engaged, NumBuckets)
    val seen = w.seen.toSeq.toDF("url_hash")
    // a key count past the broadcast threshold takes the sort-merge branch
    val keyCount = if (w.broadcastProbe) cands.size.toLong else Long.MaxValue
    val unseen = SeenSet.absent(spark, flagged, seen, "url_hash",
      keyCount)(_.url_hash, _.maybe_seen)
    CrawlEngine.capAndNumber(unseen, w.cap, w.start, 3).collect().toSeq
      .map { e =>
        val Array(p, i) = e.url.split('/')
        (e.url_hash, p.toLong, i.toInt, e.seq)
      }.sortBy(_._4)
  }

  test("fused candidate step equals first-occurrence → seen → cap → seq" +
      " (property, 200 cases)") {
    val prop = Prop.forAll(genWave)(w => fused(w) == reference(w))
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(200).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}

object FusedCandidateSpec {
  /** One random wave: pages of links, the seen set, and hashes the filters
    * answer "maybe" for although they are not in `seen`.
    */
  final case class Wave(pages: Seq[Seq[Long]], seen: Set[Long],
      falsePositives: Set[Long], engaged: Boolean, cap: Int, start: Long,
      broadcastProbe: Boolean)
}
