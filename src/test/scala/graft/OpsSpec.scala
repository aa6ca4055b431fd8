package graft

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness of the pipeline operators whose hashes the DuckDB oracle
  * cannot reproduce (minhash/simhash/LSH): assert against plain-Scala
  * oracles and known constructions instead.
  */
class OpsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def nearDupCorpus: DataFrame = {
    // 20 base docs; docs 100+i are near-duplicates of doc i (1 word changed
    // out of 30); docs 200+ are unrelated
    val rnd = new java.util.Random(7)
    def words(n: Int, tag: String) =
      (0 until n).map(i => s"w${rnd.nextInt(400)}_$tag$i").mkString(" ")
    val base = (0 until 20).map(i => (i.toLong, (0 until 30).map(k => s"tok${i}_$k").mkString(" ")))
    val dups = base.map { case (id, text) =>
      (id + 100, text.split(" ").updated(15, "CHANGED").mkString(" "))
    }
    val noise = (200 until 220).map(i => (i.toLong, words(30, s"n$i")))
    (base ++ dups ++ noise).toDF("doc_id", "text")
  }

  test("minhash-LSH finds all planted near-duplicates, no wild false positives") {
    val pairs = Dedup.minHashLshPairs(nearDupCorpus, "doc_id", "text",
      n = 2, k = 16, rowsPerBand = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(i => (i.toLong, i + 100L)).toSet
    // recall: LSH with 8 bands of 2 at ~0.93 true Jaccard → expect all found
    val found = planted.intersect(pairs)
    assert(found.size >= 18, s"recall too low: ${found.size}/20")
    // precision: noise docs must not pair with anything
    assert(!pairs.exists { case (a, b) => a >= 200 || b >= 200 },
      "unrelated docs paired")
  }

  test("minhash est_sim tracks true jaccard on planted dups") {
    val est = Dedup.minHashLshPairs(nearDupCorpus, "doc_id", "text",
      n = 2, k = 16, rowsPerBand = 2, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    est.filterKeys { case (a, b) => b == a + 100 }.values.foreach { sim =>
      assert(sim >= 0.5, s"estimated similarity $sim too low for a 29/31 dup")
    }
  }

  test("jaccardForPairs: exact n-gram jaccard for given pairs, hand oracle") {
    // trigram sets: doc 1 {a b c, b c d}, doc 2 {a b c, b c e} → inter 1,
    // union 3; doc 3 shares nothing with doc 1 → jaccard 0 (left-join
    // coalesce path); doc 4 == doc 1 → jaccard 1
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"), (4L, "a b c d"),
      (5L, "a b"), (6L, "c d"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.jaccardForPairs(pairs, docs, "doc_id", "text", n = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.size == 4)
    assert(out((1L, 2L)) == 0.333333)
    assert(out((1L, 3L)) == 0.0)
    assert(out((1L, 4L)) == 1.0)
    // both sides have < n words: empty-∪-empty = 0 by convention, not NaN
    assert(out((5L, 6L)) == 0.0)
  }

  test("pq/ivfpq exactness configs equal brute force on the sf corpus") {
    // the q_pq_exact / q_ivfpq_exact driver configurations (rerank =
    // corpus; nprobe = nlist) must EQUAL bruteForceTopK row-for-row —
    // this is what licenses sharing the q_cosine_topk DuckDB oracle
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute = rows(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5))
    val pq = rows(Similarity.pqTopK(emb, q, "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, rerank = Int.MaxValue))
    val ivfpq = rows(Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 8, m = 8, ksub = 16, iterations = 2,
      rerank = Int.MaxValue))
    assert(pq == brute, "pq at rerank=corpus diverges from brute force")
    assert(ivfpq == brute, "ivfpq at nprobe=nlist+rerank=corpus diverges")
  }

  test("simhash: identical texts → hamming 0; near-dups close; random far") {
    assert(Dedup.simHash64("hello world foo") == Dedup.simHash64("hello world foo"))
    val a = (0 until 40).map(i => s"tok$i").mkString(" ")
    val b = a.split(" ").updated(20, "CHANGED").mkString(" ")
    val hamAB = java.lang.Long.bitCount(Dedup.simHash64(a) ^ Dedup.simHash64(b))
    assert(hamAB <= 16, s"near-dup hamming $hamAB")
    val rnd = new java.util.Random(3)
    val c = (0 until 40).map(_ => s"z${rnd.nextInt(100000)}").mkString(" ")
    val hamAC = java.lang.Long.bitCount(Dedup.simHash64(a) ^ Dedup.simHash64(c))
    assert(hamAC > 16, s"unrelated hamming $hamAC")
  }

  test("simhash pairs find planted near-dups") {
    // maxHamming 16 > the 8-block guarantee radius (7): recall here is
    // probabilistic — the planted corpus is deterministic, so the floor is
    // a fixed fact, not luck
    val pairs = Dedup.simHashPairs(nearDupCorpus, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(i => (i.toLong, i + 100L)).toSet
    assert(planted.intersect(pairs).size >= 16,
      s"simhash recall ${planted.intersect(pairs).size}/20")
  }

  test("simhash blocking guarantee: EVERY pair within hamming 7 is found") {
    // plant pairs at exact Hamming distances 1..7 with adversarial bit
    // spreads (all flips inside one block, and flips straddling blocks);
    // pigeonhole over 4 wide blocks + single-bit-flip probe keys must find
    // them ALL — guarantee, not recall
    val rnd = new scala.util.Random(11)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val expected = scala.collection.mutable.Set.empty[(Long, Long)]
    var id = 0L
    (1 to 7).foreach { ham =>
      (0 until 8).foreach { _ =>
        val base = rnd.nextLong()
        val bits = rnd.shuffle((0 until 64).toList).take(ham)
        val flipped = bits.foldLeft(base)((v, b) => v ^ (1L << b))
        rows += ((id, base)); rows += ((id + 1, flipped))
        expected += ((id, id + 1))
        id += 2
      }
    }
    val df = rows.toSeq.toDF("id", "simhash")
    val found = Dedup.simHashCandidatePairs(df, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = expected.toSet -- found
    assert(missed.isEmpty, s"guarantee violated for planted pairs: $missed")
    // key-width contract: the blocking join keys span >= 2^16 values per
    // block at the contractual radius — an 8-bit key space caps bucket
    // counts at 256 and turns the self-join quadratic at corpus scale
    val (blocks, width) = Dedup.simHashBlockingParams(7)
    assert(blocks == 4 && width == 16, s"blocking geometry ($blocks, $width)")
    // guarantee extends to Hamming 15 via 8x8-bit blocks + flip keys
    assert(Dedup.simHashBlockingParams(15) == ((8, 8)))
  }

  test("connected components: clusters equal a driver-side union-find oracle") {
    // chain 1-2-3, pair 10-11, triangle 20-21-22 + bridge 22-23, singleton via no pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (20L, 22L), (22L, 23L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // union-find oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (20L, 22L), (22L, 23L)).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    assert(got == expected, s"got $got expected $expected")
    assert(got(3L) == 1L && got(23L) == 20L && got(11L) == 10L)
  }

  test("connected components: string ids (URLs) cluster like their long twins") {
    // same topology as the long test, ids as URL strings — the dictionary
    // encoding must preserve min-id (lexicographic) cluster representatives
    def u(i: Int) = f"https://e.org/p$i%03d"
    val pairs = Seq((1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22), (22, 23))
      .map { case (a, b) => (u(a), u(b)) }.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got(u(3)) == u(1) && got(u(2)) == u(1))
    assert(got(u(23)) == u(20) && got(u(11)) == u(10))
    assert(got.size == 9)
    // and nearDupDedup over a string id column is not a silent no-op
    val docs = Seq(
      ("docA", "alpha beta gamma delta epsilon zeta"),
      ("docB", "alpha beta gamma delta epsilon zeta"),
      ("docZ", "totally unrelated content right here")).toDF("doc_id", "text")
    val dd = Dedup.nearDupDedup(docs, "doc_id", "text",
        n = 2, k = 16, rowsPerBand = 2, threshold = 0.3)
      .select("doc_id", "cluster", "is_canonical")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSeq.sortBy(_._1)
    assert(dd == Seq(("docA", "docA", true), ("docB", "docA", false),
      ("docZ", "docZ", true)), dd.toString)
  }

  test("connected components: a 10^4-diameter chain converges on default budget") {
    // pathological stitch topology: one path graph 0-1-2-...-10000, edges
    // hash-scattered over 32 contraction partitions so partition-local
    // union-find contracts almost nothing — the stitch loop must close a
    // ~10^4-diameter quotient graph within the DEFAULT iteration budget
    // (possible because the neighbor-min + pointer-jump rounds double the
    // propagation distance, so the need is ~log2(10^4), not 10^4)
    val n = 10000
    val pairs = (0L until n.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, contractionParts = Some(32))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == n + 1)
    assert(cc.forall(_._2 == 0L), s"chain not fully labeled: ${cc.filter(_._2 != 0L).take(5).mkString(",")}")
    Dedup.release(spark.emptyDataFrame) // no-op guard: release is safe on plain DFs
  }

  test("connected components: no cached blocks survive beyond the returned labels") {
    val sc = spark.sparkContext
    // drain anything earlier tests left cached so the census below is ours
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(sc.getPersistentRDDs.isEmpty)
    val pairs = (1L to 3000L).map(i => (i, (i % 300) + 10000L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    assert(cc.count() == 3300)
    // the loop's per-round localCheckpoints (stars/edges/labels) must all
    // have been released; only the returned labels' checkpoint may remain
    val survivors = sc.getPersistentRDDs
    assert(survivors.size <= 1,
      s"stranded cached RDDs after CC: ${survivors.values.map(_.name).mkString(", ")}")
    Dedup.release(cc)
    assert(sc.getPersistentRDDs.isEmpty, "release(labels) left blocks behind")
  }

  test("nearDupDedup: one canonical per transitive near-dup cluster") {
    // planted dups (i, i+100) -> clusters {i, i+100} with canonical i;
    // noise docs are their own singleton clusters
    val deduped = Dedup.nearDupDedup(nearDupCorpus, "doc_id", "text",
      n = 2, k = 16, rowsPerBand = 2, threshold = 0.3)
      .select("doc_id", "cluster", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = deduped.map(t => t._1 -> t).toMap
    (0 until 20).foreach { i =>
      assert(byId(i.toLong)._3, s"base doc $i should be canonical")
      if (byId(i + 100L)._2 == i.toLong) assert(!byId(i + 100L)._3)
    }
    (200 until 220).foreach { i =>
      assert(byId(i.toLong)._2 == i.toLong && byId(i.toLong)._3,
        s"noise doc $i should be its own canonical cluster")
    }
    // every cluster has exactly one canonical member
    deduped.groupBy(_._2).foreach { case (c, members) =>
      assert(members.count(_._3) == 1, s"cluster $c canonical count")
    }
  }

  test("BPE: canonical merge sequence, segmentation, corpus token counts") {
    val sqlc = spark
    import sqlc.implicits._
    // the classic Sennrich corpus: merge order is hand-derivable
    val freq = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Bpe.trainMerges(freq, 5)
    assert(merges == Vector(
      ("e", "s"), ("es", "t"), ("est", Bpe.Eow), ("l", "o"), ("lo", "w")),
      merges.toString)
    val ranks = merges.zipWithIndex.toMap
    // an UNSEEN word segments with the learned subwords
    assert(Bpe.tokenizeWord("lowest", ranks) == Vector("low", "est" + Bpe.Eow))
    assert(Bpe.tokenizeWord("low", ranks) == Vector("low", Bpe.Eow))
    assert(Bpe.tokenizeWord("widest", ranks) ==
      Vector("w", "i", "d", "est" + Bpe.Eow))
    assert(Bpe.tokenizeWord("", ranks) == Vector.empty)
    // distributed application: counts + invariants over a small corpus
    val docs = Seq(
      (0L, "low lowest newest"),
      (1L, "the newest widest lowest low"),
      (2L, "")).toDF("doc_id", "text")
    val counts = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 0: low(2) + lowest(2) + newest: n,e,w,est</w> = 4 -> 8 tokens
    assert(counts(0L) == ((3L, 8L)), counts.toString)
    assert(counts(2L) == ((0L, 0L)))
    // every word is at least one token; never more than chars+1
    val (w1, t1) = counts(1L)
    assert(t1 >= w1 && t1 <= "the newest widest lowest low".length + w1)
    // deterministic end-to-end: sample-train twice on the same corpus
    val m1 = Bpe.train(docs, "text", numMerges = 8)
    val m2 = Bpe.train(docs, "text", numMerges = 8)
    assert(m1 == m2)
  }

  test("bpe tokenizeDocs: round-trip reconstructs normalized text, counts match tokenCounts") {
    val sqlc = spark
    import sqlc.implicits._
    val docs = Seq(
      (0L, "Low LOWEST newest"),       // mixed case -> lowercased
      (1L, "  the newest\twidest \n lowest low "), // messy whitespace
      (2L, ""),
      (3L, "zzz unseen-vocab qqq")).toDF("doc_id", "text") // words with no trained merges
    val merges = Bpe.train(docs.filter($"doc_id" < 2), "text", numMerges = 16)
    val out = Bpe.tokenizeDocs(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // text_rt == whitespace-normalized lowercase source, for EVERY doc
    // (including words the merge table never saw — char-level fallback)
    assert(out(0L)._3 == "low lowest newest")
    assert(out(1L)._3 == "the newest widest lowest low")
    assert(out(2L)._3 == "")
    assert(out(3L)._3 == "zzz unseen-vocab qqq")
    // counts agree exactly with the counting-only path
    val counts = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    out.foreach { case (id, (nw, nt, _)) =>
      assert(counts(id) == ((nw, nt)), s"doc $id count drift")
    }
  }

  test("simhash pairs carry both hashes; hamming == bitcount(xor) and hashes match the kernel") {
    val byId = nearDupCorpus.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Dedup.simHashPairsWithHashes(nearDupCorpus, "doc_id", "text",
      maxHamming = 16).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb, ham) = (r.getLong(2), r.getLong(3), r.getInt(4))
      // the emitted distance is exactly the xor popcount of the emitted
      // hashes — the identity the DuckDB recheck oracle recomputes
      assert(java.lang.Long.bitCount(sa ^ sb) == ham, s"pair ($a,$b)")
      // and the emitted hashes are the kernel's hashes of the right docs
      assert(sa == Dedup.simHash64(byId(a)), s"sim_a drift for $a")
      assert(sb == Dedup.simHash64(byId(b)), s"sim_b drift for $b")
    }
  }

  test("charGrams + exactKGramJaccardForPairs match a plain-Scala oracle") {
    val sqlc = spark
    import sqlc.implicits._
    def oracleGrams(t: String, k: Int): Set[String] = {
      val n = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      if (n.length < k) Set.empty
      else (0 to n.length - k).map(i => n.substring(i, i + k)).toSet
    }
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "The quick brown fox jumped over a lazy dog!"),
      (3L, "Completely unrelated text about winnowing"),
      (4L, "short"),  // < 8 normalized chars -> empty gram set
      (5L, "tiny")).toDF("doc_id", "text")
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // column gram extraction == oracle, incl. the sub-k edge
    val gramRows = docs.select($"doc_id",
        Winnowing.charGrams($"text", 8).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    texts.foreach { case (id, t) =>
      assert(gramRows(id) == oracleGrams(t, 8), s"grams drift for doc $id")
    }
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Winnowing.exactKGramJaccardForPairs(pairs, docs,
        "doc_id", "text", k = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def oracleJac(a: Long, b: Long): Double = {
      val (ga, gb) = (oracleGrams(texts(a), 8), oracleGrams(texts(b), 8))
      val u = (ga ++ gb).size
      if (u == 0) 0.0
      else BigDecimal(ga.intersect(gb).size.toDouble / u)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.size == 3)
    Seq((1L, 2L), (1L, 3L), (4L, 5L)).foreach { case (a, b) =>
      assert(out((a, b)) == oracleJac(a, b), s"pair ($a,$b)")
    }
    // the similar pair scores well above the unrelated one
    assert(out((1L, 2L)) > 0.3 && out((1L, 3L)) < 0.05)
    // both-empty pair: 0 by convention, never NaN
    assert(out((4L, 5L)) == 0.0)
  }

  test("decontamination: benchmark n-gram overlap flags exactly the planted docs") {
    val sqlc = spark
    import sqlc.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota"
    val vocab = Vector("red", "blue", "green", "tall", "short", "wide",
      "stone", "river", "cloud", "ember", "quill", "vale")
    def soup(seed: Int): String =
      (0 until 20).map(i => vocab((seed * 7 + i * 3) % vocab.length)).mkString(" ")
    val docs = Seq(
      // quote contamination: an 8-gram of the benchmark inside other text
      (0L, s"${soup(1)} alpha beta gamma delta epsilon zeta eta theta ${soup(2)}"),
      // verbatim inclusion
      (1L, benchText),
      // 7-word overlap only — BELOW the 8-gram window, must pass clean
      (2L, s"${soup(3)} alpha beta gamma delta epsilon zeta eta ${soup(4)}"),
      (3L, soup(5)),
      (4L, soup(6))).toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("bench_id", "text")
    val flags = Dedup.contaminationFlags(docs, "doc_id", "text",
        bench, "text", n = 8, minHits = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(flags(0L)._2 && flags(0L)._1 >= 1, s"quote contamination missed: $flags")
    assert(flags(1L)._2 && flags(1L)._1 == 2, // 9 words = two distinct 8-grams
      s"verbatim doc: ${flags(1L)}")
    assert(!flags(2L)._2 && flags(2L)._1 == 0, "7-word overlap must pass clean")
    assert(!flags(3L)._2 && !flags(4L)._2, "clean docs flagged")
    assert(flags.size == 5, "every doc row present in the output")
    // minHits gate: requiring 2 shared shingles clears the single-quote doc
    val strict = Dedup.contaminationFlags(docs, "doc_id", "text",
        bench, "text", n = 8, minHits = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!strict(0L) && strict(1L))
  }

  test("IVF ANN: recall@5 vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
      nlist = 8, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@5 $recall too low at nprobe/nlist = 4/8")
    // probing ALL cells must reproduce brute force exactly
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
      nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "nprobe = nlist must equal exact top-k")
  }

  test("IVFPQ: cell-pruned residual-ADC scan with exact rerank") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4, m = 8, ksub = 16, rerank = 64)
    val rows = approx.collect()
    val approxSet = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approxSet).size.toDouble / exact.size
    // uniform corpus is PQ's worst case AND nprobe halves the scan —
    // floor is deliberately conservative; real embeddings do far better
    assert(recall >= 0.4, s"IVFPQ recall@5 $recall too low at nprobe/nlist=4/8")
    // exact-rerank invariant: every RETURNED score is the true cosine
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    rows.foreach { r =>
      val (q, n, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (a, b) = (vecs(q), vecs(n))
      val cos = a.zip(b).map(t => t._1 * t._2).sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      assert(math.abs(cos - s) < 1e-5, s"returned score not the true cosine: $s vs $cos")
    }
    // probing every cell with a corpus-wide rerank budget reproduces the
    // exact top-k — pruning and quantization are the ONLY approximations
    val n = emb.count().toInt
    val full = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 8, m = 8, ksub = 16, rerank = n)
    val fullSet = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullSet == exact, "nprobe=nlist + full rerank must equal exact top-k")
  }

  test("PQ: codes pick nearest subcentroids; ADC equals exact dot on codebook vectors") {
    // handcrafted 2-subspace codebooks (dsub 2): vectors BUILT from
    // codebook entries must encode to those entries, and the ADC lookup
    // sum must equal the exact inner product — the kernel math, isolated
    // from k-means noise
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(2.0, 2.0)),
      Array(Array(0.0, 3.0), Array(4.0, 0.0), Array(1.0, 1.0)))
    val vecs = Seq( // (id, sub0 entry, sub1 entry)
      (0L, 0, 1), (1L, 1, 0), (2L, 2, 2), (3L, 0, 0))
    val rows = vecs.map { case (id, c0, c1) =>
      (id, (books(0)(c0) ++ books(1)(c1)).map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(rows, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Array[Byte]]("code"), r.getDouble(2)))).toMap
    vecs.foreach { case (id, c0, c1) =>
      val (code, nrm) = enc(id)
      assert(code.toSeq == Seq(c0.toByte, c1.toByte), s"code of $id")
      val full = books(0)(c0) ++ books(1)(c1)
      assert(math.abs(nrm - math.sqrt(full.map(x => x * x).sum)) < 1e-12)
    }
    // ADC through pqTopK: with vectors ON the codebook grid the ADC dot is
    // exact, so the approximate ranking equals brute force even at rerank=k
    val got = Similarity.pqTopK(rows, rows.filter(col("vec_id") === 0L),
        "vec_id", "embedding", k = 3, m = 2, ksub = 3, iterations = 0, rerank = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    val exact = Similarity.bruteForceTopK(rows, rows.filter(col("vec_id") === 0L),
        "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSet == exact.toSet, s"got ${got.toSeq} exact ${exact.toSeq}")
  }

  test("PQ top-k: high recall vs brute force with exact rerank") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 10,
        m = 8, ksub = 16, iterations = 3, rerank = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ recall@10 $recall below floor")
    // byte codes really compress: m bytes + a norm vs dim floats
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    assert(8 < dim * 4 / 4, "m bytes << dim floats") // dim 64: 8 vs 256 bytes
  }

  test("PQ training shuffles bounded fused partials, never the corpus") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
      .as[(Long, Seq[Float])].repartition(4)
    val n = base.count()
    val books = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 16)
    assert(books.length == 8 && books(0).length == 16 && books(0)(0).length == 8)
    // ONE fused pass trains all 8 codebooks: partial rows are bounded by
    // partitions x m x ksub regardless of corpus size
    val partials = Similarity.pqPartials(base, books)
    val c = partials.count()
    assert(c <= 4L * 8L * 16L, s"partials $c exceed partitions*m*ksub")
    assert(c < n * 8L, s"partials $c not smaller than corpus x subspaces")
  }

  test("IVF training shuffles bounded partials, never the corpus") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = emb.select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
      .as[(Long, Seq[Float])].repartition(4)
    val n = base.count()
    val centroids = Similarity.ivfTrain(emb, "vec_id", "embedding", nlist = 8)
    // the train stage's shuffle input is the partial rows, bounded by
    // partitions x nlist regardless of corpus size (map-side combine)
    val partials = Similarity.ivfPartials(base, centroids)
    val partialCount = partials.count()
    assert(partialCount <= 4L * 8L, s"partials $partialCount exceed partitions*nlist")
    assert(partialCount < n, s"partials $partialCount not smaller than corpus $n")
    // partials reduce to the same means a single-pass computation gives
    val viaPartials = partials.collect()
      .groupBy(_._1).map { case (c, rows) =>
        val dim = rows.head._2.length
        val sum = new Array[Double](dim)
        rows.foreach(r => (0 until dim).foreach(j => sum(j) += r._2(j)))
        val cnt = rows.map(_._3).sum
        c -> sum.map(_ / cnt).toVector
      }
    val direct = base.collect()
      .map { case (_, v) =>
        val arr = v.map(_.toDouble).toArray
        (Similarity.nearestCellPublic(arr, centroids), arr)
      }
      .groupBy(_._1).map { case (c, rows) =>
        val dim = rows.head._2.length
        val sum = new Array[Double](dim)
        rows.foreach(r => (0 until dim).foreach(j => sum(j) += r._2(j)))
        c -> sum.map(_ / rows.length).toVector
      }
    assert(viaPartials.keySet == direct.keySet)
    viaPartials.foreach { case (c, m) =>
      m.zip(direct(c)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("LSH ANN recall vs exact near-dup pairs on real embeddings") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = Similarity.exactNearDupPairs(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
        numPlanes = 3, threshold = 0.3, numTables = 12) // dim derived (64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exact), "LSH produced a pair below threshold")
    assert(exact.nonEmpty)
    // 12 tables x 3 planes at sim>=0.3: recall = 1-(1-p^3)^12 ≈ 0.9 for
    // p = 1 - acos(0.3)/pi ≈ 0.60; assert a conservative floor
    val recall = approx.size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall $recall too low for 12x3 LSH")
  }

  test("brute-force top-k is exact: matches a driver-side computation") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = emb.filter(_._1 < 3).flatMap { case (qid, qv) =>
      emb.filter(_._1 != qid)
        .map { case (nid, nv) => (qid, nid, cos(qv, nv)) }
        .sortBy { case (_, nid, c) => (-c, nid) }
        .take(5).zipWithIndex
        .map { case ((q, n, c), i) => (q, n, i + 1) }
    }.toSet
    val embDf = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val got = Similarity.bruteForceTopK(embDf, embDf.filter(col("vec_id") < 3),
        "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == expected)
  }

  test("multimodal: synthesized blobs decode back to their metadata") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val media = Multimodal.synthesizeMedia(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 50)
    feats.foreach { f =>
      if (f.kind != "audio") { // audio decode reports (sample_rate, channels)
        assert(f.width == 16 + (f.media_id % 64).toInt, "width roundtrip")
        assert(f.height == 16 + (f.media_id % 48).toInt, "height roundtrip")
      }
      assert(f.feature.length == 4)
      assert(f.n_bytes >= 8)
    }
    // image rows: REAL ImageIO decode — dimensions and per-pixel stats
    // must equal the deterministic synthesized raster exactly
    val imgFeats = feats.filter(_.kind == "image")
    assert(imgFeats.nonEmpty)
    imgFeats.foreach { f =>
      val w = 16 + (f.media_id % 64).toInt
      val h = 16 + (f.media_id % 48).toInt
      val pixels = for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.pixelValue(f.media_id, x, y).toDouble
      assert(f.feature(0) == w * h, "n_pixels")
      assert(math.abs(f.feature(1) - pixels.sum / pixels.size) < 1e-9, "mean pixel")
      assert(f.feature(2) == pixels.min && f.feature(3) == pixels.max)
    }
    // decoded == synthesized, pixel for pixel (full-raster round-trip)
    val sampleId = imgFeats.head.media_id
    val w0 = 16 + (sampleId % 64).toInt
    val h0 = 16 + (sampleId % 48).toInt
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodePng(sampleId, w0, h0)))
    for (y <- 0 until h0; x <- 0 until w0)
      assert(img.getRaster.getSample(x, y, 0) == Multimodal.pixelValue(sampleId, x, y))
    // audio rows: REAL AudioSystem decode — sample rate, channels, and
    // amplitude stats must equal the deterministic synthesized PCM exactly
    val audFeats = feats.filter(_.kind == "audio")
    assert(audFeats.nonEmpty)
    audFeats.foreach { f =>
      val frames = Multimodal.wavFrames(f.media_id)
      val samples = (0 until frames).map(i =>
        Multimodal.sampleValue(f.media_id, i).toDouble)
      assert(f.width == Multimodal.WavSampleRate, "sample rate")
      assert(f.height == 1, "channels")
      assert(f.feature(0) == frames, "n_frames")
      assert(math.abs(f.feature(1) - samples.sum / frames) < 1e-9, "mean amplitude")
      assert(f.feature(2) == samples.min && f.feature(3) == samples.max)
    }
    // video rows: REAL animated-GIF decode — frame count, dimensions, and
    // all-frame luminance stats must equal the deterministic synthesized
    // frames exactly (GIF is lossless at <=256 colors)
    val vidFeats = feats.filter(_.kind == "video")
    assert(vidFeats.nonEmpty)
    vidFeats.foreach { f =>
      val w = 16 + (f.media_id % 64).toInt
      val h = 16 + (f.media_id % 48).toInt
      val n = Multimodal.videoFrames(f.media_id)
      val lumas = for (fr <- 0 until n; y <- 0 until h; x <- 0 until w)
        yield Multimodal.framePixel(f.media_id, fr, x, y).toDouble
      assert(f.width == w && f.height == h, "frame dimensions")
      assert(f.feature(0) == n, "n_frames")
      assert(math.abs(f.feature(1) - lumas.sum / lumas.size) < 1e-9, "mean luma")
      assert(f.feature(2) == lumas.min && f.feature(3) == lumas.max)
    }
    // frame-sampling: decoding every 2nd frame still reports the true
    // frame count but scans only the sampled frames
    val vid = Multimodal.encodeGifAnim(7L, 8, 8, 5)
    val sampled = Multimodal.decodeVideo(vid, sampleEvery = 2).get
    assert(sampled._3(0) == 5)
    val sampledLumas = for (fr <- 0 until 5 by 2; y <- 0 until 8; x <- 0 until 8)
      yield Multimodal.framePixel(7L, fr, x, y).toDouble
    assert(math.abs(sampled._3(1) - sampledLumas.sum / sampledLumas.size) < 1e-9)
    // decode kernels never throw on garbage
    assert(Multimodal.decodeStub(null)._3.sameElements(Array.fill(4)(0.0)))
    assert(Multimodal.decodeStub(Array[Byte](1, 2))._1 == 0)
    assert(Multimodal.decodeImage(Array[Byte](0x89.toByte, 'P', 'N', 'G')).isEmpty)
    assert(Multimodal.decodeAudio(Array[Byte]('R', 'I', 'F', 'F')).isEmpty)
    assert(Multimodal.decodeVideo(Array[Byte]('G', 'I', 'F', '8')).isEmpty)
  }

  test("multimodal: resizeImages thumbnails real bytes; pass-through untouched") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val media = Multimodal.synthesizeMedia(docs, "doc_id", "text")
    val resized = Multimodal.resizeImages(media, 24, 24).collect()
      .map(r => r.media_id -> r).toMap
    val original = media.collect().map(r => r.media_id -> r).toMap
    assert(resized.keySet == original.keySet) // non-image rows pass through
    original.values.filter(_.kind == "image").foreach { o =>
      val r = resized(o.media_id)
      if (o.width <= 24 && o.height <= 24) {
        assert(r.blob.sameElements(o.blob), s"in-box image ${o.media_id} changed")
      } else {
        val scale = math.min(24.0 / o.width, 24.0 / o.height)
        val ew = math.max(1, math.floor(o.width * scale).toInt)
        val eh = math.max(1, math.floor(o.height * scale).toInt)
        assert(r.width == ew && r.height == eh, s"declared dims ${o.media_id}")
        // the BYTES really are a resized image: decode and measure
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.blob))
        assert(img.getWidth == ew && img.getHeight == eh, s"decoded dims ${o.media_id}")
      }
    }
    // a constant-color image resizes to the same constant (bilinear on a
    // flat field is exact) — the content, not just the container, survives
    val flat = {
      val img = new java.awt.image.BufferedImage(40, 40,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(77, 77, 77)); g.fillRect(0, 0, 40, 40); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val sqlc = spark
    import sqlc.implicits._
    val one = Multimodal.resizeImages(
      Seq(Multimodal.MediaRow(1L, "image", flat, 40, 40)).toDS(), 10, 10).head()
    val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(one.blob))
    assert(dec.getWidth == 10 && dec.getHeight == 10)
    for (y <- 0 until 10; x <- 0 until 10)
      assert(dec.getRaster.getSample(x, y, 0) == 77, s"flat pixel ($x,$y)")
  }

  test("multimodal: sampleFrames extracts every k-th video frame pixel-exactly") {
    val sqlc = spark
    import sqlc.implicits._
    val id = 11L // kind(11 % 3 == 2) = video; 4 + 11%6 = 9 frames
    val n = Multimodal.videoFrames(id)
    val vid = Multimodal.MediaRow(id, "video",
      Multimodal.encodeGifAnim(id, 12, 10, n), 12, 10)
    val img = Multimodal.MediaRow(3L, "image", Multimodal.encodePng(3L, 8, 8), 8, 8)
    val frames = Multimodal.sampleFrames(Seq(vid, img).toDS(), everyK = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.length == (n + 1) / 2, s"${frames.length} of $n frames")
    assert(frames.forall(_.kind == "image"))
    assert(frames.forall(_.parent_id == id), "explicit lineage to the video row")
    frames.foreach { fr =>
      val f = fr.frame_idx
      assert(f % 2 == 0, "every 2nd frame")
      val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fr.blob))
      assert(dec.getWidth == 12 && dec.getHeight == 10)
      // GIF gray frames re-encode losslessly: sampled PNG == synthesized
      // (raw raster samples — getRGB would gamma-map gray to sRGB)
      for (y <- 0 until 10; x <- 0 until 12)
        assert(dec.getRaster.getSample(x, y, 0) == Multimodal.framePixel(id, f, x, y),
          s"frame $f pixel ($x,$y)")
    }
  }

  test("PII scrub replaces emails/IPv4 with placeholders, leaves prose alone") {
    val rows = Seq(
      ("write a.b-c+1@sub.example.co.uk today", "write <EMAIL> today"),
      ("server at 192.168.0.1 and 8.8.8.8.", "server at <IP> and <IP>."),
      ("version 1.2.3 stays, 1.2.3.4.5 has an IP prefix", // 4-octet run scrubs
        "version 1.2.3 stays, <IP>.5 has an IP prefix"),
      ("no pii here", "no pii here"),
      ("x@y@z.com double-at", "x@<EMAIL> double-at"))
      .toDF("dirty", "expected")
    val got = rows.select(TextOps.scrubPii(col("dirty")).as("got"), col("expected"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got '${r.getString(0)}' expected '${r.getString(1)}'"))
  }

  test("dupTokenFrac: fraction of repeated whitespace tokens") {
    val rows = Seq(
      ("a b c d", 0.0),
      ("a a a a", 0.75),
      ("spam spam ham spam", 0.5),
      ("  padded   tokens padded  ", 1.0 / 3.0),
      ("", 0.0))
      .toDF("text", "expected")
    rows.select(TextOps.dupTokenFrac(col("text")).as("got"), col("expected"))
      .collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"got ${r.getDouble(0)} expected ${r.getDouble(1)}"))
  }

  test("split assignment is deterministic and ~80/10/10") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val counts = docs.withColumn("split", TextOps.splitAssign(col("doc_id")))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    assert(counts("train") / total > 0.7 && counts("train") / total < 0.9)
    assert(counts.keySet == Set("train", "valid", "test"))
    // determinism across evaluations
    val again = docs.withColumn("split", TextOps.splitAssign(col("doc_id")))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("structured streaming: exact-dedup stream equals batch distinct") {
    // streaming ingestion of a documents corpus with online exact dedup —
    // the D3 first-wins shape as a stream (state = seen fingerprints)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    spark.read.parquet(s"$sfDir/documents.parquet").write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    val src = spark.readStream.schema(schema).parquet(tmp)
      .withColumn("fp", TextOps.fingerprint(col("text")))
    val q = src.dropDuplicates("fp")
      .writeStream.outputMode("append")
      .format("memory").queryName("docs_dedup").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("docs_dedup").count()
    val batch = spark.read.parquet(tmp)
      .select(TextOps.fingerprint(col("text"))).distinct().count()
    assert(streamed == batch)
  }

  test("structured streaming: windowed counts equal the batch aggregation") {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    spark.read.parquet(s"$sfDir/events.parquet").write.mode("overwrite").parquet(tmp)
    val src = spark.readStream.schema(schema).parquet(tmp)
    val agg = src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ev_counts").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ev_counts")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  // ---- bigram-LM typicality (NgramLm) -----------------------------------

  /** Independent naive reimplementation of the whole LM pipeline (plain
    * Scala maps, no Spark) — the oracle for the distributed trainer.
    */
  private def naiveLmScores(corpus: Seq[(Long, String)], minW: Long,
      maxV: Int, minB: Long, maxB: Int, k: Double): Map[Long, (Long, Long, Double)] = {
    def toks(t: String): Array[String] =
      t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    // tie-break strings by UTF-8 bytes like Spark/DuckDB binary order
    // (Java compareTo orders by UTF-16 units, which disagrees beyond BMP)
    val utf8: Ordering[String] = (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val all = corpus.flatMap(d => toks(d._2))
    val uni = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocab = uni.toSeq
      .filter { case (w, c) => c >= minW && w != graft.ops.NgramLm.Unk }
      .sortBy { case (w, c) => (-c, w) }(
        Ordering.Tuple2(Ordering.Long, utf8)).take(maxV).map(_._1).toSet
    def m(w: String) = if (vocab.contains(w)) w else graft.ops.NgramLm.Unk
    val uniM = all.map(m).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bigAll = corpus.flatMap(d => toks(d._2).map(m).sliding(2).collect {
      case Array(a, b) => (a, b)
    })
    val big = bigAll.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .toSeq.filter(_._2 >= minB)
      .sortBy { case ((a, b), c) => (-c, a, b) }(
        Ordering.Tuple3(Ordering.Long, utf8, utf8)).take(maxB).toMap
    val v = vocab.size + 1.0
    val lnOov = math.log(math.max(1, uni.size - vocab.size).toDouble)
    corpus.map { case (id, t) =>
      val ws = toks(t).map(m)
      if (ws.length < 2) id -> (ws.length.toLong, 0L, 0.0)
      else {
        val lps = ws.sliding(2).collect { case Array(a, b) =>
          math.log((big.getOrElse((a, b), 0L) + k) / (uniM(a) + k * v)) -
            (if (b == graft.ops.NgramLm.Unk) lnOov else 0.0)
        }.toSeq
        id -> (ws.length.toLong, lps.size.toLong,
          BigDecimal(lps.sum / lps.size).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toMap
  }

  test("ngram LM: distributed train+score equals the naive reimplementation") {
    val corpus: Seq[(Long, String)] = Seq(
      0L -> "the cat sat on the mat",
      1L -> "the cat sat on the hat",
      2L -> "the dog sat on the mat and the cat sat too",
      3L -> "zq xv qqq wf",
      4L -> "the cat", // single bigram
      5L -> "one", // < 2 tokens → 0.0
      6L -> "",
      // the literal token "<unk>" in corpus TEXT must fold into the OOV
      // class, never enter the vocabulary with the pooled class count
      7L -> "<unk> cat <unk> dog <unk>")
    val df = corpus.toDF("doc_id", "text")
    val got = NgramLm.typicality(df, "doc_id", "text",
        minWordCount = 1L, maxVocab = 100, minBigramCount = 1L,
        maxBigrams = 100, k = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val want = naiveLmScores(corpus, 1L, 100, 1L, 100, 0.5)
    assert(got == want, s"\n got=$got\nwant=$want")
  }

  test("ngram LM: caps bound the model and break ties lexicographically") {
    val corpus: Seq[(Long, String)] = Seq(
      0L -> "aa bb aa bb aa bb",
      1L -> "cc dd cc dd cc dd",
      2L -> "aa dd bb cc")
    val df = corpus.toDF("doc_id", "text")
    // every word has count 4; cap 2 must keep the lexicographically
    // smallest pair {aa, bb}
    val model = NgramLm.train(df, "text", minWordCount = 1L, maxVocab = 2,
      minBigramCount = 1L, maxBigrams = 3, k = 0.1)
    assert(model.uniCount.keySet == Set("aa", "bb", NgramLm.Unk))
    assert(model.vocabSizeWithUnk == 3L)
    assert(model.bigramCount.size == 3)
    // scores still match the naive pipeline under the same caps
    val got = NgramLm.scoreDocs(df, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val want = naiveLmScores(corpus, 1L, 2, 1L, 3, 0.1)
    assert(got == want)
  }

  // ---- exact-substring dedup (Lee et al. ExactSubstr shape) ----------------

  private def passageCorpus: DataFrame = {
    // a 25-token passage planted verbatim inside three documents at
    // different offsets; the rest of every document is unique tokens
    val passage = (0 until 25).map(i => s"shared$i").mkString(" ")
    def uniq(tag: String, n: Int) =
      (0 until n).map(i => s"u_${tag}_$i").mkString(" ")
    Seq(
      (1L, uniq("a", 10) + " " + passage + " " + uniq("a2", 10)),
      (2L, uniq("b", 4) + " " + passage + " " + uniq("b2", 20)),
      (3L, passage + " " + uniq("c", 30)),
      (4L, uniq("d", 40))).toDF("doc_id", "text")
  }

  test("exactSubstrMatches: every emitted row is a byte-equal cross-doc" +
      " duplicate and the first occurrence is never emitted") {
    val m = Dedup.exactSubstrMatches(passageCorpus, "doc_id", "text",
      minTokens = 20).collect()
    assert(m.nonEmpty)
    // owner = lexicographically first (doc_id, start): doc 1 holds every
    // window of the passage first, so it is never a non-owner occurrence
    assert(m.forall(_.getAs[Long]("owner_id") == 1L))
    assert(m.map(_.getAs[Long]("doc_id")).toSet == Set(2L, 3L))
    // per-row verifiability: both md5 columns agree (genuine duplicates)
    m.foreach(r =>
      assert(r.getAs[String]("win_md5") == r.getAs[String]("owner_md5")))
    // the 25-token passage yields exactly 6 windows of 20 per copy
    assert(m.count(_.getAs[Long]("doc_id") == 2L) == 6)
    assert(m.count(_.getAs[Long]("doc_id") == 3L) == 6)
    // offsets point at the real passage positions, same diagonal as owner
    m.foreach { r =>
      val passageStart = if (r.getAs[Long]("doc_id") == 2L) 4 else 0
      val w = r.getAs[Int]("start_tok") - passageStart
      assert(w >= 0 && w <= 5, s"window start inside the passage, got $w")
      assert(r.getAs[Int]("owner_start") == 10 + w)
    }
  }

  test("exactSubstrDedup removes all-but-first copies of the passage," +
      " leaves everything else byte-identical, and is idempotent") {
    val passage = (0 until 25).map(i => s"shared$i").mkString(" ")
    def uniq(tag: String, n: Int) =
      (0 until n).map(i => s"u_${tag}_$i").mkString(" ")
    val out = Dedup.exactSubstrDedup(passageCorpus, "doc_id", "text",
      minTokens = 20)
    val byId = out.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("text"), r.getAs[Int]("dup_tokens_removed")))).toMap
    // doc 1 (first occurrence) keeps the passage; docs 2/3 lose exactly it
    assert(byId(1L) == ((uniq("a", 10) + " " + passage + " " + uniq("a2", 10), 0)))
    assert(byId(2L) == ((uniq("b", 4) + " " + uniq("b2", 20), 25)))
    assert(byId(3L) == ((uniq("c", 30), 25)))
    assert(byId(4L) == ((uniq("d", 40), 0)))
    // idempotent: the surviving single copy is not removed by a second pass
    val again = Dedup.exactSubstrDedup(
      out.select("doc_id", "text"), "doc_id", "text", minTokens = 20)
    assert(again.agg(sum($"dup_tokens_removed")).head().getLong(0) == 0L)
  }

  test("exactSubstrDedup maxOccurrences: above-cap hot windows are kept" +
      " uncut (the boilerplate skew bound); at-cap behavior unchanged") {
    // every shared window occurs once in each of 3 documents (occ = 3);
    // a cap of 2 excludes them all from the removal join — nothing is
    // cut and the hot win_hash never reaches the marked set
    val capped = Dedup.exactSubstrDedup(passageCorpus, "doc_id", "text",
      minTokens = 20, maxOccurrences = 2L)
    assert(capped.agg(sum($"dup_tokens_removed")).head().getLong(0) == 0L)
    val inputById = passageCorpus.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    capped.collect().foreach(r =>
      assert(r.getAs[String]("text") == inputById(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")} must pass through uncut"))
    // a cap at the occurrence count keeps the historical cut semantics
    val at = Dedup.exactSubstrDedup(passageCorpus, "doc_id", "text",
      minTokens = 20, maxOccurrences = 3L)
    assert(at.agg(sum($"dup_tokens_removed")).head().getLong(0) == 50L)
  }

  test("langRebalance: kept corpus matches the target mix at the largest" +
      " achievable size; binding language keeps everything; untargeted" +
      " languages keep nothing") {
    val rnd = new java.util.Random(11)
    val rows = Seq(("en", 4000), ("fr", 600), ("de", 1400), ("xx", 300))
      .flatMap { case (l, n) => (0 until n).map(_ => l) }
    val docs = rows.zipWithIndex
      .map { case (l, i) => (i.toLong + rnd.nextInt(3) * 100000L, l) }
      .map { case (id, l) => (id, l) }
      .toDF("doc_id", "lang")
    val out = TextOps.langRebalance(docs, "doc_id", "lang",
      Map("en" -> 0.5, "fr" -> 0.2, "de" -> 0.3))
    val kept = out.filter(col("kept"))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // N' = min(4000/.5, 600/.2, 1400/.3) = 3000 (fr binding): fr keeps all
    assert(kept("fr") == 600)
    assert(!kept.contains("xx"), "untargeted language must keep nothing")
    // achieved mix ~ targets on N'=3000 (hash-uniform => few-% tolerance)
    assert(math.abs(kept("en") - 1500.0) / 1500.0 < 0.08, s"en=${kept("en")}")
    assert(math.abs(kept("de") - 900.0) / 900.0 < 0.08, s"de=${kept("de")}")
    // deterministic
    val again = TextOps.langRebalance(docs, "doc_id", "lang",
      Map("en" -> 0.5, "fr" -> 0.2, "de" -> 0.3))
      .filter(col("kept")).count()
    assert(again == kept.values.sum)
  }

  test("chunkDocs: boundaries, overlap, full coverage, md5 of each window") {
    val docs = Seq(
      (1L, (0 until 100).map(i => s"t$i").mkString(" ")),
      (2L, (0 until 10).map(i => s"s$i").mkString(" ")),
      (3L, (0 until 64).map(i => s"u$i").mkString(" ")),
      (4L, (0 until 65).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.chunkDocs(docs, "doc_id", "text",
      maxTokens = 64, overlap = 16).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("chunk_index"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("chunk_tokens"),
        r.getAs[String]("chunk_md5")))
    val by = out.groupBy(_._1)
    // stride 48: doc1 (100 toks) → chunks at 0 (64) and 48 (52)
    assert(by(1L).map(c => (c._2, c._3, c._4)).sorted.toSeq ==
      Seq((0, 0, 64), (1, 48, 52)))
    // short and exactly-max docs → single chunk
    assert(by(2L).map(c => (c._2, c._3, c._4)).toSeq == Seq((0, 0, 10)))
    assert(by(3L).map(c => (c._2, c._3, c._4)).toSeq == Seq((0, 0, 64)))
    // one token past max → a second chunk contributing that one new token
    assert(by(4L).map(c => (c._2, c._3, c._4)).sorted.toSeq ==
      Seq((0, 0, 64), (1, 48, 17)))
    // full coverage: the union of [start, start+tokens) is [0, n)
    by.foreach { case (id, chunks) =>
      val n = Map(1L -> 100, 2L -> 10, 3L -> 64, 4L -> 65)(id)
      val covered = chunks.flatMap(c => c._3 until (c._3 + c._4)).toSet
      assert(covered == (0 until n).toSet, s"coverage for doc $id")
    }
    // md5 is of the actual window text
    val c1 = by(1L).find(_._3 == 48).get
    val expect = (48 until 100).map(i => s"t$i").mkString(" ")
    assert(c1._5 == java.security.MessageDigest.getInstance("MD5")
      .digest(expect.getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("packSequences: every bin fits or is a single oversize doc, every" +
      " doc packs exactly once, and the assignment is deterministic") {
    val docs = (0 until 200).map { i =>
      // lengths 1..100 words, plus two oversize docs of 150
      val n = if (i >= 198) 150 else 1 + (i * 37) % 100
      (i.toLong, (0 until n).map(k => s"w$k").mkString(" "))
    }.toDF("doc_id", "text")
    val packed = TextOps.packSequences(docs, "doc_id", "text",
      capacity = 128, numPartitions = 4).collect()
    assert(packed.length == 200)
    assert(packed.map(_.getAs[Long]("id")).distinct.length == 200)
    packed.groupBy(_.getAs[Long]("bin_id")).foreach { case (_, rows) =>
      val total = rows.head.getAs[Long]("bin_total")
      assert(total == rows.map(_.getAs[Long]("n_tokens")).sum)
      assert(rows.head.getAs[Long]("bin_docs") == rows.length)
      if (total > 128) {
        assert(rows.length == 1 && !rows.head.getAs[Boolean]("fits"),
          "over-capacity bins must be single oversize docs")
      } else assert(rows.head.getAs[Boolean]("fits"))
    }
    // both oversize docs landed alone
    assert(packed.filter(_.getAs[Long]("n_tokens") == 150L)
      .forall(r => r.getAs[Long]("bin_docs") == 1L && !r.getAs[Boolean]("fits")))
    // FFD actually packs: far fewer bins than docs
    assert(packed.map(_.getAs[Long]("bin_id")).distinct.length < 120)
    // deterministic across runs
    val again = TextOps.packSequences(docs, "doc_id", "text",
      capacity = 128, numPartitions = 4).collect()
    assert(packed.map(r => (r.getAs[Long]("id"), r.getAs[Long]("bin_id")))
      .sortBy(_._1).toSeq ==
      again.map(r => (r.getAs[Long]("id"), r.getAs[Long]("bin_id")))
        .sortBy(_._1).toSeq)
  }

  test("exactSubstr and packSequences work over URL-string doc ids (the" +
      " crawl documents table's id type)") {
    val passage = (0 until 25).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      ("https://a.example.com/p1.html", "x1 x2 " + passage),
      ("https://b.example.com/p2.html", passage + " y1 y2"),
      ("https://c.example.com/p3.html", (0 until 30).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val m = Dedup.exactSubstrMatches(docs, "doc_id", "text", minTokens = 20)
      .collect()
    assert(m.nonEmpty)
    // owner = lexicographic min (doc_id, start): the a.example.com doc
    assert(m.forall(_.getAs[String]("owner_id") == "https://a.example.com/p1.html"))
    assert(m.forall(r => r.getAs[String]("win_md5") == r.getAs[String]("owner_md5")))
    val deduped = Dedup.exactSubstrDedup(docs, "doc_id", "text", minTokens = 20)
      .collect().map(r => r.getAs[String]("doc_id") -> r.getAs[Int]("dup_tokens_removed")).toMap
    assert(deduped("https://b.example.com/p2.html") == 25)
    assert(deduped("https://a.example.com/p1.html") == 0)

    val packed = TextOps.packSequences(docs, "doc_id", "text", capacity = 40)
      .collect()
    assert(packed.length == 3)
    assert(packed.map(_.getAs[String]("id")).toSet.size == 3)
    packed.foreach(r => assert(r.getAs[Boolean]("fits")))
  }

  test("ngram LM: gibberish scores below every typical document") {
    val typical = (0L until 40L).map(i =>
      i -> s"the quick brown fox jumps over the lazy dog near the river bank ${i % 3}")
    val corpus = typical :+ (99L -> "zxqv jkwp qqzz vvxx mmlpo zzt qpw")
    val df = corpus.toDF("doc_id", "text")
    val scores = NgramLm.typicality(df, "doc_id", "text",
        minWordCount = 2L, maxVocab = 1000, minBigramCount = 1L,
        maxBigrams = 10000, k = 0.1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val gib = scores(99L)
    typical.foreach { case (id, _) =>
      assert(gib < scores(id), s"gibberish $gib !< doc $id ${scores(id)}")
    }
  }
}
