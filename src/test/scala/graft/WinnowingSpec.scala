package graft

import graft.ops.Winnowing
import org.scalatest.funsuite.AnyFunSuite

class WinnowingSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("winnowing guarantee: substring matches of length >= w+k-1 share a fingerprint") {
    val k = 8; val w = 16
    val shared = "this exact passage of shared text is long enough to be caught by winnowing guarantees"
    val a = s"prefix material before anything relevant. $shared and then a tail."
    val b = s"totally different framing here. $shared with another continuation entirely."
    val fa = Winnowing.fingerprints(a, k, w)
    val fb = Winnowing.fingerprints(b, k, w)
    assert(fa.intersect(fb).nonEmpty, "shared passage produced no common fingerprint")
    // unrelated texts share (almost) nothing
    val c = Winnowing.fingerprints(
      (0 until 40).map(i => s"zq${i}xv${i * 7}").mkString(" "), k, w)
    assert(fa.intersect(c).isEmpty)
  }

  test("fingerprints are deterministic, normalization-insensitive") {
    val t = "Hello, WORLD!  Multiple   spaces and Punct."
    val t2 = "hello world multiple spaces and punct"
    assert(Winnowing.fingerprints(t) == Winnowing.fingerprints(t2))
    assert(Winnowing.fingerprints("short") == Winnowing.fingerprints("short"))
    assert(Winnowing.fingerprints("ab", k = 8).isEmpty)
  }

  test("fingerprintPairs finds planted near-dups in a DataFrame") {
    val base = (0 until 10).map(i =>
      (i.toLong, (0 until 60).map(j => s"tok${i}word$j").mkString(" ")))
    val dups = base.map { case (id, t) =>
      (id + 100, t.replace("word30", "EDITED")) // one token edited
    }
    val noise = (200 until 210).map(i =>
      (i.toLong, (0 until 60).map(j => s"n${i}q${j * 13}").mkString(" ")))
    val df = (base ++ dups ++ noise).toDF("doc_id", "text")
    val pairs = Winnowing.fingerprintPairs(df, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).map(i => (i.toLong, i + 100L)).toSet
    assert(planted.subsetOf(pairs), s"missing: ${planted.diff(pairs)}")
    assert(!pairs.exists { case (a, b) => a >= 200 || b >= 200 }, "noise paired")
  }
}
