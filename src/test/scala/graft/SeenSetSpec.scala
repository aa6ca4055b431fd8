package graft

import graft.crawl._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

/** The seen set's filter buckets never answer "absent" for a seen hash
  * ([[SeenSet]]'s no-false-negative contract), across random sequences of
  * wave adds, forgets (retractions of present hashes and re-adds), heals of
  * saturated buckets and cold rebuilds, driven through the module's
  * per-bucket functions exactly as the wave, forget and read route them.
  * Capacities are tiny, so Cuckoo inserts fail and buckets saturate.
  */
class SeenSetSpec extends AnyFunSuite {
  import SeenSetSpec._

  private val hash = Gen.choose(-60L, 60L)
  private val hashes = Gen.choose(0, 24).flatMap(Gen.listOfN(_, hash))
  private val genStep: Gen[Step] = Gen.frequency(
    4 -> hashes.map(Add),
    4 -> Gen.zip(hashes, hashes).map { case (d, r) => Forget(d, r) },
    1 -> Gen.const(Heal),
    1 -> Gen.choose(1, 3).map(Rebuild))
  private val genCase = for {
    nb <- Gen.choose(1, 3)
    cap <- Gen.choose(1L, 8L)
    fpr <- Gen.oneOf(0.01, 0.1, 0.3)
    steps <- Gen.choose(1, 14).flatMap(Gen.listOfN(_, genStep))
  } yield Case(nb, cap, fpr, steps)

  /** Every seen hash is in a bucket that might contain it. */
  private def noFalseNegative(st: State): Boolean = st.seen.forall(h =>
    st.buckets.get(CrawlEngine.bloomBucket(h, st.nb)).exists(_.filter.mightContain(h)))

  private def run(c: Case): (Boolean, Boolean) = {
    def layout(nb: Int) = SeenSet.Layout(nb, c.cap, c.fpr)
    def bucketOf(h: Long, nb: Int) = layout(nb).bucketOf(h)
    // the cold build: one Bloom bucket per non-empty bucket of seen
    def built(seen: Set[Long], nb: Int, only: Int => Boolean, cuckoo: Boolean) =
      seen.groupBy(bucketOf(_, nb)).collect { case (b, hs) if only(b) =>
        b -> SeenSet.buildBucket(b, hs.iterator, layout(nb), cuckoo)
      }
    var st = State(c.nb, Set.empty, Map.empty)
    var ok = true
    var saturated = false
    c.steps.foreach { step =>
      st = step match {
        case Add(hs) => // a wave accepts only hashes absent from seen
          val adds = hs.distinct.filterNot(st.seen)
          val touched = adds.groupBy(bucketOf(_, st.nb)).map { case (b, as) =>
            b -> SeenSet.updateBucket(st.buckets.get(b), Iterator.empty, as.iterator,
              layout(st.nb))
          }
          st.copy(seen = st.seen ++ adds, buckets = st.buckets ++ touched.collect {
            case (b, Some(fb)) => b -> fb
          })
        case Forget(ds, rs) => // retract present hashes, re-add absent ones
          val dels = ds.distinct.filter(st.seen)
          val adds = rs.distinct.filterNot(st.seen)
          val seen = st.seen -- dels ++ adds
          val rebuild = dels.map(bucketOf(_, st.nb)).toSet
            .filter(b => SeenSet.needsRebuild(st.buckets.get(b).map(fb => (fb.kind, fb.saturated))))
          val updated = (dels ++ adds).map(bucketOf(_, st.nb)).toSet.diff(rebuild).toSeq
            .flatMap { b =>
              SeenSet.updateBucket(st.buckets.get(b), dels.filter(bucketOf(_, st.nb) == b).iterator,
                adds.filter(bucketOf(_, st.nb) == b).iterator, layout(st.nb)).map(b -> _)
            }
          st.copy(seen = seen, buckets = st.buckets -- rebuild ++ updated ++
            built(seen, st.nb, rebuild, cuckoo = true))
        case Heal =>
          val sat = st.buckets.collect { case (b, fb) if fb.saturated => b }.toSet
          st.copy(buckets = st.buckets -- sat ++ built(st.seen, st.nb, sat, cuckoo = true))
        case Rebuild(nb) =>
          st.copy(nb = nb, buckets = built(st.seen, nb, _ => true, cuckoo = false))
      }
      saturated ||= st.buckets.values.exists(_.saturated)
      ok &&= noFalseNegative(st)
    }
    (ok, saturated)
  }

  test("filter buckets have no false negatives across adds, retractions," +
      " re-adds, heals and Bloom→Cuckoo rebuilds (property, 500 cases)") {
    var saturatedCases = 0
    val prop = Prop.forAllNoShrink(genCase) { c =>
      val (ok, saturated) = run(c)
      if (saturated) saturatedCases += 1
      ok
    }
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(500).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(saturatedCases > 0, "no case tripped the saturation fence")
  }
}

object SeenSetSpec {
  sealed trait Step
  final case class Add(hashes: Seq[Long]) extends Step
  final case class Forget(retract: Seq[Long], reAdd: Seq[Long]) extends Step
  case object Heal extends Step
  final case class Rebuild(numBuckets: Int) extends Step

  final case class Case(nb: Int, cap: Long, fpr: Double, steps: Seq[Step])
  final case class State(nb: Int, seen: Set[Long], buckets: Map[Int, FilterBucket])
}
