package graft.ops

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, Spark-first:
  * everything is groupBy/join/window over hashed keys — the same shapes as
  * the crawl engine's D1/D3 dedup (SURVEY.md §2.3) applied corpus-wide.
  *
  * Scale notes: all flavors key their shuffles on a 64-bit hash (or a small
  * band/bucket id), so they hash-partition evenly at 100 TB; candidate
  * generation (LSH banding, prefix blocking) bounds the quadratic pair
  * space before any pairwise work happens.
  */
object Dedup {

  /** Release the block-manager blocks behind a `connectedComponents` (or
    * any `localCheckpoint`ed) result once a pipeline is done reading it.
    * The CC loop already frees its per-round intermediates; this frees the
    * returned labels too — call it in long-lived jobs that run CC many
    * times. No-op on plain (non-checkpointed) DataFrames.
    */
  def release(df: DataFrame): Unit = GraftColumnBridge.unpersistCheckpoint(df)

  /** Exact dedup: first-wins by deterministic key order within each
    * normalized-text group (never `dropDuplicates`, which picks an
    * arbitrary winner — SURVEY.md "hard parts").
    * Output: input rows + `is_canonical` flag.
    */
  def exactFirstWins(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(TextOps.fingerprint(col(textCol))).orderBy(col(orderCol))
    // NOT spread: measured 3x slower with a pre-exchange here — the
    // fingerprint is cheap enough that the window's own hash exchange is
    // the right (and only) redistribution point
    df.withColumn("dup_rank", row_number().over(w))
      .withColumn("is_canonical", col("dup_rank") === 1)
      .drop("dup_rank")
  }

  /** Distinct word n-gram shingles (as array) of the lowercased, trimmed,
    * whitespace-split text, words joined by " ". */
  def shingles(text: Column, n: Int): Column =
    array_distinct(filter(grams(split(lower(trim(text)), "\\s+"), n, " "),
      s => s.isNotNull))

  /** The dedup family's one n-gram builder: each run of `n` consecutive
    * `tokens` joined by `sep`, null past the array's end. Callers own the
    * tokenizing normalization and the final filter ([[shingles]]: words;
    * [[Winnowing.charGrams]]: characters).
    *
    * Built by zipping the token array with its own shifted slices — all
    * evaluated ONCE per row as zip_with arguments. (The naive form,
    * referencing `slice(tokens, i, n)`/`size(tokens)` INSIDE a transform
    * lambda, re-evaluates the outer split() per array element — O(W²)
    * work per document; measured 25x slower at sf0.1.)
    */
  private[ops] def grams(tokens: Column, n: Int, sep: String): Column =
    (1 until n).foldLeft(tokens) { (acc, k) =>
      zip_with(acc, slice(tokens, lit(k + 1), size(tokens)), (a, b) =>
        when(a.isNotNull && b.isNotNull,
          if (sep.isEmpty) concat(a, b) else concat(a, lit(sep), b)))
    }

  /** n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ threshold):
    * `cappedJaccardPairs` over the xxhash64 of each document's shingles —
    * the same intersection counts as the strings (collisions are
    * ~n²·|sh|/2^64) on far cheaper join keys.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Int = 0): DataFrame =
    cappedJaccardPairs(shingleHashes(df, idCol, textCol, n), threshold,
      maxDocFreq, "jaccard")

  /** (id, sh) rows: xxhash64 of each document's distinct shingles, the gram
    * chain spread off a narrow scan. */
  private def shingleHashes(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    Par.spread(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(shingles(col(textCol), n)).as("sh_str"))
      .select(col("id"), xxhash64(col("sh_str")).as("sh"))

  /** The dedup family's one set-similarity join over (id, sh: long) rows,
    * grams distinct per id: self-join on the gram with id_a < id_b →
    * per-pair intersection counts → `round(inter / (n_a + n_b − inter),
    * 6)` ≥ `threshold`, as (id_a, id_b, `simCol`). Pure equi-joins, fully
    * oracle-expressible; pairs sharing no gram are never emitted. Used by
    * [[jaccardPairs]] and [[Winnowing.fingerprintPairs]].
    *
    * `maxDocFreq > 0` drops grams whose document frequency exceeds the
    * cap BEFORE the self-join — a hot boilerplate gram shared by d docs
    * contributes d² rows to the blocking join, so an uncapped join is
    * quadratic on common phrases. The Jaccard is then computed over the
    * capped gram sets on BOTH numerator and denominator (a consistent
    * "rare-gram Jaccard": ubiquitous grams carry no dedup signal — the
    * standard prefix/frequency-filter trade in set-similarity joins).
    */
  private[graft] def cappedJaccardPairs(rows: DataFrame, threshold: Double,
      maxDocFreq: Int, simCol: String): DataFrame = {
    val sh = if (maxDocFreq > 0) {
      // grams are per-id distinct, so count(*) per gram IS doc freq
      val rare = rows.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDocFreq).select(col("sh"))
      rows.join(rare, "sh")
    } else rows
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn(simCol,
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col(simCol) >= threshold)
      .select(col("id_a"), col("id_b"), col(simCol))
  }

  /** Benchmark-decontamination flags — the train/eval overlap gate every
    * LLM data pipeline runs before training (cf. Brown et al. 2020 App. C;
    * Lee et al. 2022): a document is contaminated when at least `minHits`
    * of its DISTINCT word n-gram shingles occur anywhere in the benchmark
    * corpus. Returns every doc row as (id, n_hits, contaminated).
    *
    * Scale shape: candidate generation is an equi-join on the 64-bit
    * shingle hash (the same rows as [[jaccardPairs]]) against the distinct
    * benchmark shingle set. Eval suites are MB-scale against a 100-TB
    * corpus, so the benchmark side broadcasts; the docs side streams
    * through untouched — no self-join, nothing quadratic.
    */
  def contaminationFlags(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      n: Int = 8, minHits: Int = 1): DataFrame = {
    val docSh = shingleHashes(docs, idCol, textCol, n)
    val benchSh = broadcast(benchmark
      .select(explode(shingles(col(benchTextCol), n)).as("sh_str"))
      .select(xxhash64(col("sh_str")).as("sh")).distinct())
    // shingles() is per-doc distinct, so the join-then-count is the count
    // of distinct shared shingles per document
    val hits = docSh.join(benchSh, "sh")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }

  /** MinHash signatures: k hash functions of the universal family
    * (a_i * h + b_i) over xxhash64(shingle), min per function. Returned as
    * an array column "minhash".
    */
  def withMinHash(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16): DataFrame = {
    val sh = explode(shingles(col(textCol), n))
    val exploded = Par.spread(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), sh.as("sh"))
    // hash family i = xxhash64(i, shingle): independent, no overflow under
    // ANSI arithmetic (Spark 4 default), and stays in whole-stage codegen
    val minCols = (0 until k).map { i =>
      min(xxhash64(lit(i), col("sh"))).as(s"mh$i")
    }
    val sig = exploded.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
    sig.withColumn("minhash", array((0 until k).map(i => col(s"mh$i")): _*))
      .select(col("id"), col("minhash"))
  }

  /** MinHash-LSH candidate pairs: band the signature (bands of `rowsPerBand`
    * values), bucket-join on (band index, band hash). Classic
    * shingle→minhash→band→bucket-join (Broder; Leskovec et al., MMDS ch.3 —
    * public material). Returns candidate pairs with estimated similarity =
    * fraction of matching minhash positions.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, rowsPerBand: Int = 2, threshold: Double = 0.5): DataFrame = {
    val sig = withMinHash(df, idCol, textCol, n, k)
    val bands = k / rowsPerBand
    val banded = sig.select(col("id"), col("minhash"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws("_", b,
            concat_ws(",", slice(col("minhash"), b * rowsPerBand + 1, lit(rowsPerBand))))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.minhash").as("mh_a"), col("b.minhash").as("mh_b"))
      .dropDuplicates("id_a", "id_b")
    cand.withColumn("est_sim",
        aggregate(zip_with(col("mh_a"), col("mh_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k)
      .filter(col("est_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_sim"), 4).as("est_sim"))
  }

  /** Exact n-gram Jaccard for GIVEN candidate pairs — the verification
    * stage a near-dup pipeline runs after approximate candidate generation
    * (MinHash-LSH emits candidates; survivors are decided by the exact
    * measure — Leskovec et al., MMDS §3.4, public material). Each side's
    * distinct shingle set joins in by id and matches count per pair, so
    * cost is linear in the pair members' shingle counts — never
    * corpus-quadratic — and the math is fully oracle-expressible in SQL.
    * Returns (id_a, id_b, jaccard) for EVERY input pair (no threshold:
    * callers filter).
    */
  def jaccardForPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    jaccardForPairsOver(pairs, gramSets(docs, idCol, textCol, shingles(_, n)))

  /** (id, shs) rows: each document's gram set `gramsOf(text)`, spread
    * BEFORE the gram chain so it runs post-exchange at full width, not on
    * a narrow scan.
    */
  private[ops] def gramSets(docs: DataFrame, idCol: String, textCol: String,
      gramsOf: Column => Column): DataFrame =
    Par.spread(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), gramsOf(col(textCol)).as("shs"))

  /** Exact Jaccard over arbitrary per-document gram SETS — the shared core
    * of [[jaccardForPairs]] (word n-grams) and
    * [[Winnowing.exactKGramJaccardForPairs]] (character k-grams). `sets`
    * must be (id, shs: array&lt;string&gt;) with distinct grams per row.
    */
  def jaccardForPairsOver(pairs: DataFrame, sets: DataFrame): DataFrame = {
    val sizes = sets.select(col("id"), size(col("shs")).as("n_sh"))
    val ex = sets.select(col("id"), explode(col("shs")).as("sh"))
    val inter = pairs
      .join(ex.select(col("id").as("id_a"), col("sh")), Seq("id_a"))
      .join(ex.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    val i0 = coalesce(col("inter"), lit(0L))
    val union = col("n_a") + col("n_b") - i0
    pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        // empty-∪-empty = 0 by convention, never NaN (a pair whose sides
        // both produced no grams; blocking-emitted pairs can't hit this —
        // their members always have grams — but the public contract
        // returns a number for EVERY pair)
        when(union === 0, lit(0.0))
          .otherwise(round(i0.cast("double") / union, 6)).as("jaccard"))
  }

  /** Plain-Scala SimHash kernel (Charikar, STOC 2002 — public): sign-sum of
    * per-token hash bits, tokens = lowercased whitespace words, token hash =
    * XXH64(UTF-8, seed 42) — the same family as Spark's builtin xxhash64.
    */
  def simHash64(text: String): Long = {
    val sums = new Array[Int](64)
    text.toLowerCase(Locale.ROOT).split("\\s+").foreach { t =>
      if (t.nonEmpty) {
        val h = graft.core.XxHash64.hash(t.getBytes("UTF-8"), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (sums(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash column via a Scala UDF — the bit-vote loop is 64× per token and
    * genuinely faster as compiled Scala than as a Catalyst expression tree;
    * this is the documented UDF exception on this path.
    */
  def withSimHash(df: DataFrame, textCol: String): DataFrame = {
    val sh = udf((t: String) => simHash64(if (t == null) "" else t))
    df.withColumn("simhash", sh(col(textCol)))
  }

  /** Blocking geometry for simHashCandidatePairs: `blocks` equal-width
    * pieces of the 64-bit hash, each emitting its value plus all
    * single-bit flips as probe keys. By pigeonhole, `maxHamming` dirty
    * bits over `blocks` pieces leave some piece with ≤ floor(maxHamming /
    * blocks) dirty bits; a piece with ≤ 1 dirty bit is caught by a flip
    * key, so recall is GUARANTEED whenever floor(maxHamming / blocks) ≤ 1
    * — up to Hamming 15 at the 8-block cap (with 16-bit keys up to
    * Hamming 7); beyond 15 the blocking is probabilistic (documented).
    * Exposed so tests can assert the key-width contract (≥16-bit keys at
    * maxHamming = 7).
    */
  def simHashBlockingParams(maxHamming: Int): (Int, Int) = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val blocks = math.max(1, math.min(8, maxHamming / 2 + 1))
    (blocks, 64 / blocks)
  }

  /** SimHash candidate blocking + exact Hamming filter over a prepared
    * (id, simhash) frame. The hash splits into wide blocks (4 blocks of
    * 16 bits at the contractual maxHamming = 7) and each block emits its
    * value AND all single-bit flips as probe keys (Manku et al., WWW 2007
    * table/probe trade; Lv et al., VLDB 2007 multi-probe — both public):
    * ≤ 7 differing bits over 4 blocks leave some block differing in ≤ 1
    * bit, and a 1-bit difference is bridged by a flip key, so recall is
    * GUARANTEED — while the join key space per block is 2^16, not the 2^8
    * of a plain 8-block split, which is what keeps bucket occupancy (and
    * the quadratic within-bucket pair join) bounded as the corpus grows.
    *
    * The candidate join is ASYMMETRIC: probe rows (value + flips, blocks ×
    * (width+1) = 68/doc at the default) against base rows (value only,
    * blocks/doc). Coverage is unchanged — for a pair differing in ≤ 1 bit
    * of block q, the dirty-bit flip of either side meets the other side's
    * base — but an exact-duplicate pair collides on `blocks` keys instead
    * of blocks×(width+1), so dup-heavy corpora don't inflate the join.
    */
  def simHashCandidatePairs(withSh: DataFrame, maxHamming: Int): DataFrame = {
    val (blocks, width) = simHashBlockingParams(maxHamming)
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    def blockVal(q: Int): Column =
      shiftright(col("simhash"), q * width).bitwiseAND(mask)
    val probes = withSh.select(col("id"), col("simhash"),
      explode(flatten(array((0 until blocks).map { q =>
        val base = blockVal(q)
        val keys = base +: (0 until width).map(j => base.bitwiseXOR(lit(1L << j)))
        array(keys.map(k => struct(lit(q).as("q"), k.as("kv"))): _*)
      }: _*))).as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.q").as("q"), col("bk.kv").as("qval"))
    val bases = withSh.select(col("id"), col("simhash"),
      posexplode(array((0 until blocks).map(blockVal): _*)))
      .withColumnRenamed("pos", "q").withColumnRenamed("col", "qval")
    val cand = probes.as("a").join(bases.as("b"),
        col("a.q") === col("b.q") && col("a.qval") === col("b.qval") &&
        col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        // both hashes ride the candidate row (free — they're join inputs),
        // aligned so sim_a belongs to id_a under the least/greatest
        // normalization
        when(col("a.id") < col("b.id"), col("a.simhash"))
          .otherwise(col("b.simhash")).as("sim_a"),
        when(col("a.id") < col("b.id"), col("b.simhash"))
          .otherwise(col("a.simhash")).as("sim_b"),
        // xor is symmetric, so hamming is pair-normalization-safe
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // Hamming filter BEFORE the pair dedup (guide §2.3 "shuffle fewer
      // bytes"): hamming is a pure function of the pair, identical on every
      // duplicate row, so filter∘dropDuplicates ≡ dropDuplicates∘filter —
      // but filtering first means only true near-dup rows (a tiny fraction
      // of bucket collisions) pay the dedup exchange
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
    cand
      .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"), col("hamming"))
  }

  /** SimHash near-dup pairs over a text column (see simHashCandidatePairs
    * for the blocking/recall contract).
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7): DataFrame =
    simHashPairsWithHashes(df, idCol, textCol, maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))

  /** [[simHashPairs]] with each member's 64-bit SimHash carried in the
    * output (id_a, id_b, sim_a, sim_b, hamming) — the oracle-checkable
    * shape: `hamming` is then independently recomputable as
    * `bit_count(sim_a XOR sim_b)` by any SQL engine, so the distance a
    * dedup decision rests on is verified on the exact emitted rows (the
    * hash KERNEL stays Scala-only and is pinned by its own known-vector
    * spec). The hashes are free — they are already inputs of the blocking
    * join; no extra joins or hash recomputation.
    */
  def simHashPairsWithHashes(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7): DataFrame = {
    // spread BEFORE the hash UDF + 68-probe-key explode: both sides of the
    // candidate self-join evaluate this subtree, and a narrow scan would
    // run the whole kernel twice on one core (the repartition exchange is
    // reused across the two sides)
    val withSh = withSimHash(Par.spread(df.select(col(idCol), col(textCol))),
      textCol).select(col(idCol).as("id"), col("simhash"))
    simHashCandidatePairs(withSh, maxHamming)
  }

  /** Connected components over near-dup pairs — the step a dedup pipeline
    * runs AFTER pair mining: transitively-linked documents form one
    * cluster, keep one representative per cluster. Two phases (the
    * standard contract-then-iterate CC shape, cf. Kiveris et al., SoCC
    * 2014; Rastogi et al., ICDE 2013 — public material):
    *
    *  1. PARTITION-LOCAL CONTRACTION: a union-find pass inside
    *     mapPartitions collapses each partition's edges to a star forest
    *     (node → local min root). One linear pass eliminates every chain
    *     that fits in a partition — the case that costs min-label
    *     propagation O(diameter) rounds. Partition count is sized from the
    *     edge count (~500k edges/task), so each task's map is executor-
    *     memory bounded at any corpus size.
    *  2. CROSS-PARTITION STITCHING: min-label propagation with a pointer
    *     jump over the star edges. The jump DOUBLES the propagation
    *     distance per round (measured: a 10^4-diameter quotient chain
    *     converges in 14 ≈ log2(10^4) rounds — OpsSpec pins it), so the
    *     default 25-round budget covers quotient diameters to ~2^25 with
    *     no manual tuning; beyond that the loop throws rather than
    *     returning unconverged labels. Star forests have tiny diameters
    *     in practice (they only chain across partitions);
    *     each round is ONE materializing job (eager localCheckpoint — the
    *     plan must truncate per round or plan compilation blows up long
    *     before the data does) carrying a fused `changed` flag, and the
    *     convergence test is a cheap scan of the materialized result.
    *     Hitting maxIterations without a fixpoint THROWS rather than
    *     silently returning unconverged labels.
    *
    * Input: pairs (id_a, id_b) of ANY orderable id type. Integral ids run
    * the long kernel directly; other types (e.g. URL strings) are
    * dictionary-encoded to dense longs in id sort order first — an
    * order-preserving map, so the output contract "cluster = the minimum
    * member id" carries over to the original type's ordering. Output:
    * (id, cluster) — deterministic, oracle-comparable.
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 25,
      contractionParts: Option[Int] = None): DataFrame = {
    if (integralId(pairs, "id_a"))
      connectedComponentsLong(pairs, maxIterations, contractionParts)
    else {
      // dict size = ids touched by pairs only
      val dict = idDictionary(pairs.select(col("id_a").as("oid"))
        .unionByName(pairs.select(col("id_b").as("oid"))), "nid").persist()
      val enc = pairs
        .join(dict.select(col("oid").as("id_a"), col("nid").as("na")), "id_a")
        .join(dict.select(col("oid").as("id_b"), col("nid").as("nb")), "id_b")
        .select(col("na").as("id_a"), col("nb").as("id_b"))
      val cc = connectedComponentsLong(enc, maxIterations, contractionParts)
      val out = cc
        .join(dict.select(col("nid").as("id"), col("oid").as("id_out")), "id")
        .join(dict.select(col("nid").as("cluster"), col("oid").as("cluster_out")), "cluster")
        .select(col("id_out").as("id"), col("cluster_out").as("cluster"))
        .localCheckpoint(true)
      dict.unpersist()
      GraftColumnBridge.unpersistCheckpoint(cc) // decoded result supersedes it
      out
    }
  }

  /** Integral ids (Long, Int, Short, Byte) are their own 8-byte surrogate:
    * the dedup family numbers only other id types through [[idDictionary]].
    */
  private def integralId(df: DataFrame, idCol: String): Boolean = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** The dedup family's one id dictionary: the distinct values of `ids`'
    * one column, numbered 0, 1, … in sort order as the long column
    * `outCol` (sort + zipWithIndex: two linear passes, no single-partition
    * window). Numbering is order-preserving, so a minimum taken over the
    * dense ids picks the same row as one over the native ids — the
    * "cluster = minimum member id" and "owner = first occurrence"
    * contracts carry over to the original type's ordering.
    */
  private def idDictionary(ids: DataFrame, outCol: String): DataFrame =
    graft.crawl.CrawlEngine.assignSeq(ids.sparkSession, ids.distinct(),
      ids.columns.toSeq, 0L, outCol)

  private def connectedComponentsLong(pairs: DataFrame, maxIterations: Int,
      contractionParts: Option[Int] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges0 = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .distinct().persist()
    val m = edges0.count()
    // ---- phase 1: per-partition union-find → star edges (node, localRoot)
    // contractionParts: test hook to force a pathological multi-partition
    // contraction on small inputs (a 10^4-link chain hash-scattered over
    // 32 partitions contracts to ~nothing and stresses the stitch loop)
    val parts = contractionParts.getOrElse(
      math.max(1L, math.min(1L << 16, (m + 499999L) / 500000L)).toInt)
    val stars = edges0.as[(Long, Long)].repartition(parts).mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      val nodes = scala.collection.mutable.LongMap.empty[Boolean]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { case (a, b) =>
        nodes(a) = true; nodes(b) = true
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      nodes.keysIterator.map(x => (x, find(x)))
    }.toDF("src", "dst").localCheckpoint(true) // materialize ONCE: label init
    // and the stitch edges both read it, and edges0 can drop right after
    edges0.unpersist()
    // label init folds one propagation step: min local root across partitions
    var labels = stars.groupBy($"src".as("id")).agg(min($"dst").as("cluster"))
      .localCheckpoint(true)
    // single-partition contraction is a GLOBAL union-find: the local roots
    // are the true components and the init labels are already the fixpoint
    // — skip the stitch machinery (its first round would only re-prove
    // convergence). Only reachable for small edge sets (parts is sized
    // from the edge count), so the 100-TB path is unchanged.
    if (parts == 1 && contractionParts.isEmpty) {
      GraftColumnBridge.unpersistCheckpoint(stars)
      return labels.select($"id", $"cluster")
    }
    // undirected star edges for the stitch loop
    val edges = stars.unionByName(stars.select($"dst".as("src"), $"src".as("dst")))
      .filter($"src" =!= $"dst").distinct().localCheckpoint(true)
    // both consumers of the star forest are materialized — drop its blocks
    GraftColumnBridge.unpersistCheckpoint(stars)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // neighbor-min: each node adopts min(own, neighbors') label
      val nbrMin = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy($"dst".as("id")).agg(min($"cluster").as("nbr_min"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select($"id", $"cluster".as("old"),
          least($"cluster", coalesce($"nbr_min", $"cluster")).as("mid"))
      // pointer jump: follow the adopted label one hop through the same
      // round's label table (labels are node ids, so they resolve in place)
      val updated = stepped.join(
          labels.select($"id".as("jid"), $"cluster".as("jc")),
          $"mid" === $"jid", "left")
        .select($"id", least($"mid", coalesce($"jc", $"mid")).as("cluster"), $"old")
        .withColumn("changed", $"cluster" =!= $"old")
        .select($"id", $"cluster", $"changed")
        .localCheckpoint(true)
      val anyChanged = updated.agg(max($"changed")).head()
      converged = anyChanged.isNullAt(0) || !anyChanged.getBoolean(0)
      // the new round's checkpoint is materialized (eager) — release the
      // superseded one instead of stranding O(rounds) block-manager blocks
      GraftColumnBridge.unpersistCheckpoint(labels)
      labels = updated.drop("changed")
      iter += 1
      if (sys.env.contains("GRAFT_TRACE"))
        System.err.println(s"[trace] cc round $iter converged=$converged")
    }
    GraftColumnBridge.unpersistCheckpoint(edges)
    if (!converged) {
      // the error path must not strand the final round's checkpoint blocks
      GraftColumnBridge.unpersistCheckpoint(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations stitch rounds " +
        "(star-forest diameter beyond the doubling budget — raise maxIterations)")
    }
    // only the returned labels checkpoint survives; callers that are done
    // with it can release it via Dedup.release
    labels.select($"id", $"cluster")
  }

  /** Corpus-wide near-dup dedup: mine candidate pairs (MinHash-LSH),
    * cluster them transitively, and flag one canonical doc per cluster
    * (minimum id — first-wins order). Docs in no pair are their own
    * cluster. Output: input rows + (cluster, is_canonical).
    */
  def nearDupDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, n, k, rowsPerBand, threshold)
    val clusters = connectedComponents(pairs)
      .withColumnRenamed("id", "__cc_id")
    df.join(clusters, col(idCol) === col("__cc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
      .drop("__cc_id")
      .withColumn("is_canonical", col("cluster") === col(idCol))
  }

  /** Tokens + duplicated-window marks shared by the exact-substring ops:
    * every length-`minTokens` word window occurring in ≥2 DISTINCT
    * documents is marked at each non-owner occurrence, owner = the
    * lexicographically first (doc_id, start) occurrence — the passage's
    * one retained copy (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", ExactSubstr — re-expressed as two
    * hash-keyed shuffles instead of a suffix array: window rows are
    * O(total tokens), the groupBy is map-side-combined on a 64-bit window
    * hash, and nothing pairwise ever materializes).
    *
    * Within-document repetition is deliberately out of scope (ndocs
    * counts DISTINCT docs) — [[TextOps]]' repetition scoring covers it.
    */
  private def exactSubstrMarked(df: DataFrame, idCol: String,
      textCol: String, minTokens: Int,
      maxOccurrences: Long): (DataFrame, DataFrame) = {
    // The per-token-window rows are the dominant shuffle, so they carry an
    // 8-byte dense surrogate (did), never the native id (the crawl
    // documents table's doc_id is a ~60-char URL — carrying it would widen
    // the O(total tokens) shuffle ~8x); the small marked set joins the
    // dictionary back at the end. Integral ids are their own surrogate
    // (`did = doc_id`: no dictionary, no decode joins). Either way
    // min(struct(did, start)) picks the same owner as ordering by the
    // native id would.
    val ownId = integralId(df, idCol)
    val idDict =
      if (ownId) null else idDictionary(df.select(col(idCol).as("doc_id")), "did")
    val toksBase = Par.spread(df.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), split(col(textCol), "\\s+").as("toks"))
      .filter(size(col("toks")) >= minTokens)
    val toks =
      if (ownId) toksBase.withColumn("did", col("doc_id"))
      else toksBase.join(idDict, "doc_id")
    // (did, start_tok, win_hash) — the ONLY columns that shuffle; the
    // window text itself never leaves its partition (re-derived later for
    // the rows that survive)
    val wins = toks
      .select(col("did"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - minTokens)).as("start_tok"))
      .withColumn("win_hash",
        xxhash64(array_join(slice(col("toks"), col("start_tok") + 1, lit(minTokens)), " ")))
      .select("did", "start_tok", "win_hash")
    val stats = wins.groupBy("win_hash").agg(
      countDistinct(col("did")).as("ndocs"),
      min(struct(col("did"), col("start_tok"))).as("owner"),
      count(lit(1)).as("occ"))
      .filter(col("ndocs") >= 2 && col("occ") <= maxOccurrences)
    val marked0 = wins.join(stats, "win_hash")
      .filter(!(col("did") === col("owner.did") &&
        col("start_tok") === col("owner.start_tok")))
    val marked =
      if (ownId) marked0.select(col("did").as("doc_id"), col("start_tok"),
        col("owner.did").as("owner_id"),
        col("owner.start_tok").as("owner_start"))
      else marked0
        .join(idDict, "did")
        .join(idDict.select(col("doc_id").as("owner_id"),
          col("did").as("__odid")), col("owner.did") === col("__odid"))
        .select(col("doc_id"), col("start_tok"),
          col("owner_id"), col("owner.start_tok").as("owner_start"))
    (toks.drop("did"), marked)
  }

  /** Cross-document exact-substring matches, one row per duplicated window
    * occurrence that is NOT the retained owner copy. `win_md5` / `owner_md5`
    * are the md5 of the space-joined token slices on each side — an
    * external engine can re-derive both from the corpus, so every emitted
    * row is independently verifiable as a genuine byte-equal duplicate
    * (the recheck-oracle shape). Window hashes with more than
    * `maxOccurrences` occurrences (site boilerplate) are excluded from the
    * REPORT deterministically; the removal transform keeps them.
    */
  def exactSubstrMatches(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxOccurrences: Long = 1000L): DataFrame = {
    val (toks, marked) =
      exactSubstrMarked(df, idCol, textCol, minTokens, maxOccurrences)
    val slice_md5 = (t: Column, s: Column) =>
      md5(array_join(slice(t, s + 1, lit(minTokens)), " "))
    marked
      .join(toks, "doc_id")
      .withColumn("win_md5", slice_md5(col("toks"), col("start_tok")))
      .drop("toks")
      .join(toks.select(col("doc_id").as("owner_id"), col("toks").as("otoks")),
        "owner_id")
      .withColumn("owner_md5", slice_md5(col("otoks"), col("owner_start")))
      .select(col("doc_id"), col("start_tok").cast("int").as("start_tok"),
        lit(minTokens).as("len_tok"), col("owner_id"),
        col("owner_start").cast("int").as("owner_start"),
        col("win_md5"), col("owner_md5"))
  }

  /** Remove duplicated passages: every marked window position is merged
    * into maximal token intervals per document and those tokens are cut,
    * so exactly one copy of each repeated passage survives corpus-wide
    * (at its first occurrence). Output: doc_id, text (rebuilt),
    * dup_tokens_removed. Documents below `minTokens` pass through.
    * Idempotent: a second pass finds nothing (the survivors are single
    * copies).
    *
    * `maxOccurrences` bounds the removal path against hot-window skew
    * (the round-6 verdict's one remaining scale-killer candidate): a
    * boilerplate window occurring d times contributes d marked rows and
    * makes its `win_hash` a d-hot join key, so an uncapped removal is
    * O(occurrences) in both marked-set volume and join skew. Windows
    * above the cap are excluded from `stats` BEFORE the join — the hot
    * key never reaches the probe side's output — and their occurrences
    * are kept UNCUT: corpus-scale boilerplate is better handled by
    * upstream exact/line dedup (D3), not passage removal. The default
    * keeps the historical cut-everything semantics.
    */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxOccurrences: Long = Long.MaxValue): DataFrame = {
    val (_, marked) =
      exactSubstrMarked(df, idCol, textCol, minTokens, maxOccurrences)
    val perDoc = marked.groupBy("doc_id")
      .agg(sort_array(collect_set(col("start_tok"))).as("starts"))
      .withColumnRenamed("doc_id", "__esd_mid") // callers may keep their own doc_id column
    val L = minTokens
    val cut = udf { (text: String, starts: Seq[Int]) =>
      val toks = text.split("\\s+")
      // merge window starts into maximal [s, e] token intervals
      val intervals = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      starts.foreach { s =>
        val e = s + L - 1
        if (intervals.nonEmpty && s <= intervals.last._2 + 1)
          intervals(intervals.length - 1) =
            (intervals.last._1, math.max(intervals.last._2, e))
        else intervals += ((s, e))
      }
      val drop = Array.fill(toks.length)(false)
      intervals.foreach { case (s, e) =>
        (s to math.min(e, toks.length - 1)).foreach(drop(_) = true)
      }
      val kept = toks.indices.collect { case i if !drop(i) => toks(i) }
      (kept.mkString(" "), drop.count(identity))
    }
    df.withColumn("__esd_id", col(idCol))
      .join(perDoc, col("__esd_id") === col("__esd_mid"), "left")
      .withColumn("__cut",
        when(col("starts").isNull, struct(col(textCol).as("_1"), lit(0).as("_2")))
          .otherwise(cut(col(textCol), col("starts"))))
      .withColumn(textCol, col("__cut._1"))
      .withColumn("dup_tokens_removed", col("__cut._2"))
      .drop("__esd_id", "__esd_mid", "starts", "__cut")
  }
}
