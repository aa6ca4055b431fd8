package graft.ops

import java.util.Locale

import graft.core.XxHash64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — public):
  * rolling k-gram hashes over the normalized character stream, then the
  * minimum hash per sliding window of `w` hashes (rightmost-min tie-break).
  * Guarantees: any substring match of length ≥ w+k-1 shares at least one
  * fingerprint — the standard plagiarism/near-dup detection primitive, and
  * the "rolling hash" flavor of document fingerprinting from the pipeline
  * brief.
  */
object Winnowing {

  /** Normalize like a fingerprinter: lowercase, collapse non-alphanumerics. */
  def normalize(text: String): String =
    text.toLowerCase(Locale.ROOT).replaceAll("[^a-z0-9]+", " ").trim

  /** Rolling k-gram hashes (XXH64 of each k-char window; the "rolling"
    * property we need is per-position hashing of overlapping windows, not
    * algebraic incrementality — XXH64 on 8-32 byte windows is faster than a
    * Rabin update loop in the JVM).
    */
  def kgramHashes(text: String, k: Int): Array[Long] = {
    val n = normalize(text)
    if (n.length < k) return Array.empty
    Array.tabulate(n.length - k + 1) { i =>
      XxHash64.hash(n.substring(i, i + k).getBytes("UTF-8"), 0L)
    }
  }

  /** Winnowed fingerprint set: min hash of each window of `w` consecutive
    * k-gram hashes, deduplicated, with positions dropped (set form).
    */
  def fingerprints(text: String, k: Int = 8, w: Int = 16): Set[Long] = {
    val hs = kgramHashes(text, k)
    if (hs.isEmpty) return Set.empty
    if (hs.length <= w) return Set(hs.min)
    val out = scala.collection.mutable.Set.empty[Long]
    var i = 0
    while (i + w <= hs.length) {
      var m = hs(i)
      var j = i + 1
      while (j < i + w) {
        if (hs(j) < m) m = hs(j)
        j += 1
      }
      out += m
      i += 1
    }
    out.toSet
  }

  /** Estimated containment/overlap pairs via shared winnowed fingerprints:
    * each document's fingerprint set through
    * `Dedup.cappedJaccardPairs` (Jaccard over fingerprint sets, emitted
    * as `sim`; `maxDocFreq > 0` caps the fingerprints' document frequency).
    * Robust to word-boundary edits (character-level k-grams).
    */
  def fingerprintPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, threshold: Double = 0.3,
      maxDocFreq: Int = 0): DataFrame = {
    val fpUdf = udf((t: String) =>
      fingerprints(if (t == null) "" else t, k, w).toSeq)
    // spread before the rolling-hash UDF — the per-row kernel — so a narrow
    // scan does not serialize it (no-op at scale)
    val fps = Par.spread(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(fpUdf(col(textCol))).as("sh"))
    Dedup.cappedJaccardPairs(fps, threshold, maxDocFreq, "sim")
  }

  /** Distinct character k-grams of the winnowing-normalized text as a
    * native Column (lowercase, non-alphanumerics collapsed to single
    * spaces — the same normalization [[normalize]] applies before
    * hashing): the normalized characters through the one n-gram builder
    * `Dedup.grams`, joined with no separator. Grams shorter than `k`
    * (array tail) are filtered by length.
    */
  def charGrams(text: Column, k: Int): Column = {
    val chars = split(
      trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), "")
    array_distinct(filter(Dedup.grams(chars, k, ""),
      s => s.isNotNull && length(s) === k))
  }

  /** The verification stage winnowing approximates: EXACT character
    * k-gram Jaccard over candidate pairs (typically
    * [[fingerprintPairs]]' output) — fingerprints estimate this measure
    * from the winnowed subset; survivors should be decided by the exact
    * one. Pure column math + equi-joins, so the measure is independently
    * recomputable by any SQL engine on the emitted rows (the oracle shape
    * for the fingerprint family, mirroring
    * `Dedup.jaccardForPairs` for MinHash-LSH). Linear in the pair
    * members' gram counts — never corpus-quadratic.
    */
  def exactKGramJaccardForPairs(pairs: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, k: Int = 8): DataFrame =
    Dedup.jaccardForPairsOver(pairs,
      Dedup.gramSets(docs, idCol, textCol, charGrams(_, k)))
}
