package graft

import graft.ops.Dedup
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

/** The dedup family's one set-similarity join (`Dedup.cappedJaccardPairs`,
  * behind `jaccardPairs` and `Winnowing.fingerprintPairs`) against a
  * driver-side oracle: the Jaccard of the doc-frequency-capped gram sets,
  * rounded half-up to 6 places, kept at ≥ threshold.
  *
  * Cases are batched: a batch of 20 small gram-set families shares one
  * DataFrame and one join call (ids and grams are tagged with their case,
  * so no two cases meet in the join), with the batch's cap and threshold.
  */
class SetSimilaritySpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val CasesPerBatch = 20
  private val Tag = 1000L

  /** One case: up to 6 ids, each a set of grams from a 12-gram universe
    * (empty sets included).
    */
  private val genCase: Gen[Map[Long, Set[Long]]] =
    Gen.listOfN(6, Gen.choose(0, 6).flatMap(k => Gen.pick(k, 0L to 11L)).map(_.toSet))
      .map(_.zipWithIndex.map { case (s, i) => i.toLong -> s }.toMap)

  // thresholds that small-set ratios hit exactly once rounded to 6 places
  private val genBatch = Gen.zip(Gen.listOfN(CasesPerBatch, genCase),
    Gen.oneOf(0, 0, 1, 2, 3),
    Gen.oneOf(0.2, 0.25, 0.333333, 0.5, 0.666667, 1.0))

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The oracle for one case: pairs (a < b) with their capped Jaccard. */
  private def oracle(sets: Map[Long, Set[Long]], maxDocFreq: Int,
      threshold: Double): Set[(Long, Long, Double)] = {
    val docFreq = sets.values.toSeq.flatten.groupBy(identity).map { case (g, gs) => g -> gs.size }
    val capped = sets.map { case (id, s) =>
      id -> (if (maxDocFreq > 0) s.filter(docFreq(_) <= maxDocFreq) else s)
    }
    (for {
      (a, sa) <- capped.toSeq; (b, sb) <- capped.toSeq
      if a < b
      inter = (sa intersect sb).size
      if inter > 0
      j = round6(inter.toDouble / (sa.size + sb.size - inter))
      if j >= threshold
    } yield (a, b, j)).toSet
  }

  test("the capped set-similarity join equals a driver-side Jaccard oracle") {
    var cases, atThreshold, capChanges, emptySets = 0
    val prop = Prop.forAllNoShrink(genBatch) { case (batch, maxDocFreq, threshold) =>
      val tagged = batch.zipWithIndex.map { case (sets, c) =>
        sets.map { case (id, s) => (c * Tag + id) -> s.map(c * Tag + _) }
      }
      val rows = tagged.flatMap(_.toSeq.flatMap { case (id, s) => s.map(id -> _) })
      val got = Dedup.cappedJaccardPairs(rows.toDF("id", "sh"), threshold,
          maxDocFreq, "sim")
        .as[(Long, Long, Double)].collect().toSet
      val want = tagged.flatMap(oracle(_, maxDocFreq, threshold)).toSet
      cases += batch.size
      atThreshold += want.count(_._3 == threshold)
      emptySets += tagged.map(_.values.count(_.isEmpty)).sum
      capChanges += tagged.count(t =>
        oracle(t, 0, threshold) != oracle(t, maxDocFreq, threshold))
      got == want
    }
    val result = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(cases >= 200, s"only $cases cases")
    // the generators reach the boundaries the join must get right
    assert(atThreshold > 0 && emptySets > 0 && capChanges > 0,
      s"atThreshold=$atThreshold emptySets=$emptySets capChanges=$capChanges")
  }
}
