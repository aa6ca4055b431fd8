package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three tiers, per the pipeline brief:
  *  - brute-force cosine top-k: the exact baseline, a broadcast-joined
  *    cross product — correct at any k, O(N·Q) so only for bounded query
  *    sets (or as the per-bucket kernel below);
  *  - LSH-bucketed ANN (random hyperplanes → sign bits → bucket equi-join):
  *    the scale path for near-duplicate pairs — candidate generation is an
  *    equi-join on a small bucket id, so it hash-partitions evenly and never
  *    materializes the quadratic pair space;
  *  - quantized top-k (IVF, PQ, IVFPQ): one quantizer core — one k-means
  *    trainer (`pqTrain`), one encoder of residuals to coarse cells — and
  *    one query shape (`probeJoin`): queries probe their cells on
  *    executors and equi-join the corpus's cell table, then IVF scores the
  *    joined rows by exact cosine and PQ/IVFPQ by ADC over the codes. PQ is
  *    the core with a single zero cell. No query row reaches the driver.
  *
  * Every top-k entry point ends in the same tail: `row_number` over
  * (score desc, neighbor_id asc), then rank ≤ k. Column math is
  * `aggregate`/`zip_with` over doubles (codegen'd, no UDF); the quantizer
  * kernels are plain loops inside `mapPartitions`.
  */
object Similarity {

  /** dot(a, b) as a Column over two array<float|double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The one top-k tail: each query's rows ranked by (`score` desc,
    * neighbor_id asc), rank ≤ k kept.
    */
  private def topK(scored: DataFrame, score: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(score).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact cosine top-k over (query_id, qvec, neighbor_id, nvec) pairs:
    * the rows every top-k entry point returns.
    */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    topK(pairs.withColumn("cos_sim", cosine(col("qvec"), col("nvec"))), "cos_sim", k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_sim"), 6).as("cos_sim"), col("rank"))

  /** Exact cosine top-k neighbors for each query row.
    * `queries` and `corpus` both need (idCol, vecCol). Query side is
    * broadcast (bounded query sets by contract). Self-matches excluded.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    // spread the stream side: the |corpus|×|queries| cosine evaluations
    // run in the scan stage of the broadcast join — a narrow scan would
    // serialize them (no-op at scale)
    val c = Par.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec")))
    cosineTopK(c.join(broadcast(q), col("query_id") =!= col("neighbor_id")), k)
  }

  // --- vector kernels shared by LSH and the quantizer core -----------------

  private def vectors(df: DataFrame, idCol: String,
      vecCol: String): Dataset[(Long, Seq[Float])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Seq[Float])]
  }

  private def toDoubles(vec: Seq[Float]): Array[Double] = {
    val arr = new Array[Double](vec.length)
    var j = 0
    while (j < arr.length) { arr(j) = vec(j).toDouble; j += 1 }
    arr
  }

  /** Σ a(off + j) · b(j) over j < n. */
  private def dotAt(a: Array[Double], off: Int, b: Array[Double], n: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < n) { s += a(off + j) * b(j); j += 1 }
    s
  }

  /** Σ (a(off + j) − b(j))² over j < n. */
  private def sqDist(a: Array[Double], off: Int, b: Array[Double], n: Int): Double = {
    var d = 0.0
    var j = 0
    while (j < n) { val t = a(off + j) - b(j); d += t * t; j += 1 }
    d
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim d coefficient
    * derived from a hash — reproducible across runs and engines with no
    * stored model.
    */
  private def planeCoef(p: Int, d: Int): Double = {
    val h = graft.core.XxHash64.hashLong((p.toLong << 32) | d.toLong, 1234L)
    (h.toDouble / Long.MaxValue.toDouble) // in [-1, 1]
  }

  /** Plane count for a corpus of `n` vectors: enough sign bits that the
    * expected bucket occupancy is ~`targetBucket`, so the within-bucket pair
    * join stays linear-ish as the corpus grows (2^planes buckets per table).
    * 10^9 vectors → ~25 planes; the 2k-vector test corpus → 8.
    */
  def planesFor(n: Long, targetBucket: Int = 8, min: Int = 4, max: Int = 30): Int = {
    val want = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(max, math.max(min, want))
  }

  /** Per-row (id, tbl, bucket) LSH bucket rows via a broadcast plane-matrix
    * kernel inside mapPartitions: ONE fused dot-product loop per (row,
    * table) against driver-built hyperplanes — not a per-dim Catalyst
    * expression tree (the naive expression form compiles 2k+ nodes per row
    * and ships multi-MiB task binaries). Plane coefficients stay the
    * deterministic planeCoef hash family, so buckets are reproducible with
    * no stored model.
    */
  def lshBucketRows(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numPlanes: Int, numTables: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // plane-index layout keeps table stride 64 so buckets match the previous
    // Column formulation for any numPlanes <= 64
    val planes: Array[Array[Double]] = Array.tabulate(numTables * numPlanes) { pi =>
      val t = pi / numPlanes; val p = pi % numPlanes
      Array.tabulate(dim)(d => planeCoef(t * 64 + p, d))
    }
    val bc = spark.sparkContext.broadcast(planes)
    val nt = numTables; val np = numPlanes
    vectors(df, idCol, vecCol).mapPartitions { it =>
      val pl = bc.value
      it.flatMap { case (id, vec) =>
        val arr = toDoubles(vec)
        (0 until nt).iterator.map { t =>
          var bucket = 0L
          var p = 0
          while (p < np) {
            val plane = pl(t * np + p)
            val dp = dotAt(arr, 0, plane, math.min(arr.length, plane.length))
            if (dp > 0) bucket |= (1L << p)
            p += 1
          }
          (id, t, bucket)
        }
      }
    }.toDF("id", "tbl", "bucket")
  }

  /** ANN near-duplicate pairs via MULTI-TABLE sign-LSH: `numTables`
    * independent tables of `numPlanes` hyperplanes each; a pair is a
    * candidate if it collides in ANY table (standard LSH amplification —
    * recall = 1-(1-p^m)^L for per-plane agreement p = 1-θ/π). Exact cosine
    * verification within candidates; pairs (id_a < id_b) with cosine ≥
    * threshold. Candidate generation is an equi-join on (table, bucket) so
    * it hash-partitions evenly at scale; only (id_a, id_b) travels through
    * the dedup shuffle — vectors re-join by id for verification.
    *
    * `dim <= 0` derives the dimension from the first row; `numPlanes <= 0`
    * scales the plane count with the corpus size (planesFor).
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int = -1, numPlanes: Int = -1, threshold: Double = 0.8,
      numTables: Int = 8): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // deliberately TWO cheap jobs, not one fused agg: head() is a
    // limit-1 probe and count() is satisfied from parquet metadata,
    // while a fused max(size)+count aggregate would full-scan the corpus
    // at scale just to derive two parameters (measured equal locally)
    val d = if (dim > 0) dim else base.select(size(col("vec"))).head().getInt(0)
    val np = if (numPlanes > 0) numPlanes else planesFor(base.count())
    val b = lshBucketRows(df, idCol, vecCol, d, np, numTables)
    val candidates = b.as("a").join(b.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(base.select(col("id").as("id_a"), col("vec").as("va")), "id_a")
      .join(base.select(col("id").as("id_b"), col("vec").as("vb")), "id_b")
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Exact cosine near-duplicate pairs over a bounded corpus (the oracle
    * baseline for the LSH variant): full pair join, id_a < id_b.
    */
  def exactNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // spread: the O(n²) pairwise cosines evaluate in the stream-side scan
    // stage of the nested-loop join — parallelize it off a narrow scan
    // (bounded corpus by contract, so the quadratic itself is documented)
    val b = Par.spread(df.select(col(idCol).as("id"), col(vecCol).as("vec")))
    b.as("a").join(b.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.vec"), col("b.vec")).as("raw"))
      .filter(col("raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("raw"), 6).as("cos_sim"))
  }

  // --- the quantizer core: IVF cells, product quantization (Jégou/Douze/
  // Schmid, TPAMI 2011 — public) and their FAISS IVFPQ composition -------

  /** No coarse quantizer: one cell whose zero-length centroid leaves every
    * residual equal to its vector (`x − 0 == x`) and every cell offset 0.
    */
  private val NoCells: Array[Array[Double]] = Array(Array.emptyDoubleArray)

  /** Nearest codebook entry for one subvector (L2; first entry on ties). */
  private def nearestSub(vec: Array[Double], off: Int, dsub: Int,
      book: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val d = sqDist(vec, off, book(c), dsub)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Nearest centroid cell for one whole vector. */
  private[graft] def nearestCell(vec: Array[Double], centroids: Array[Array[Double]]): Int =
    nearestSub(vec, 0, math.min(vec.length, centroids(0).length), centroids)

  /** Replaces `vec` in place by its residual to its nearest cell's
    * centroid; returns the cell.
    */
  private def toResidual(vec: Array[Double], centroids: Array[Array[Double]]): Int = {
    val cell = nearestCell(vec, centroids)
    val cent = centroids(cell)
    var j = 0
    while (j < math.min(vec.length, cent.length)) { vec(j) -= cent(j); j += 1 }
    cell
  }

  /** The `np` cells nearest to `q` (L2), nearest first, ties by cell. */
  private def probe(q: Array[Double], centroids: Array[Array[Double]], np: Int): Seq[Int] =
    centroids.indices.sortBy { c =>
      sqDist(q, 0, centroids(c), math.min(q.length, centroids(c).length))
    }.take(np)

  /** Per-partition k-means partials for ALL m subspaces at once: each
    * task folds its vectors into at most m·ksub ((subspace, cell), task
    * partition id, sum-subvector, count) rows — the classic k-means
    * combiner, so one Lloyd iteration over every codebook shuffles
    * O(partitions · m · ksub · dsub), never the corpus (asserted by
    * OpsSpec). With m = 1 the one codebook is IVF's centroid list.
    */
  def pqPartials(base: Dataset[(Long, Seq[Float])],
      codebooks: Array[Array[Array[Double]]]): Dataset[(Int, Int, Array[Double], Long)] = {
    val spark = base.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebooks)
    base.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val books = bc.value
      val m = books.length
      val ksub = books(0).length
      val dsub = books(0)(0).length
      val sums = new Array[Array[Double]](m * ksub)
      val counts = new Array[Long](m * ksub)
      rows.foreach { case (_, vec) =>
        val arr = toDoubles(vec)
        var sub = 0
        while (sub < m) {
          val key = sub * ksub + nearestSub(arr, sub * dsub, dsub, books(sub))
          if (sums(key) == null) sums(key) = new Array[Double](dsub)
          val s = sums(key)
          var d = 0
          while (d < dsub) { s(d) += arr(sub * dsub + d); d += 1 }
          counts(key) += 1
          sub += 1
        }
      }
      (0 until m * ksub).iterator.filter(counts(_) > 0)
        .map(key => (key, pid, sums(key), counts(key)))
    }
  }

  /** The one Lloyd trainer. Splits the space into `m` contiguous subspaces
    * of dim/m dims and k-means each one to `ksub` entries. Deterministic
    * init: the `ksub` rows with the smallest xxhash64(id), id breaking
    * ties — reproducible, no RNG. Every iteration is ONE fused pass over
    * the corpus (pqPartials) whose partials fold in partition-id order.
    * Codebooks are tiny (m · ksub · dsub doubles) — driver + broadcast.
    * Returns codebooks(subspace)(entry)(dsub).
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int = 16, iterations: Int = 3): Array[Array[Array[Double]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = vectors(corpus, idCol, vecCol)
    // id as the secondary sort key makes the seed picks a total order even
    // under (improbable) xxhash64 collisions — run-to-run determinism
    val seed = base.toDF()
      .withColumn("h", xxhash64(col("id"))).orderBy(col("h"), col("id"))
      .limit(ksub).select(col("vec")).as[Seq[Float]]
      .collect().map(toDoubles)
    require(seed.nonEmpty, "empty corpus")
    val dim = seed(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m) { sub =>
      Array.tabulate(math.min(ksub, seed.length)) { c =>
        java.util.Arrays.copyOfRange(seed(c), sub * dsub, (sub + 1) * dsub)
      }
    }
    var it = 0
    while (it < iterations) {
      // fold the per-partition partials in PARTITION-ID order: float sums
      // are order-sensitive, and the shuffle-arrival order would make the
      // trained codebooks vary run to run
      val means = pqPartials(base, books)
        .groupByKey(_._1)
        .mapGroups { (key, it) =>
          val parts = it.toArray.sortBy(_._2)
          val sum = new Array[Double](parts(0)._3.length)
          var count = 0L
          parts.foreach { case (_, _, s, c) =>
            var j = 0
            while (j < sum.length) { sum(j) += s(j); j += 1 }
            count += c
          }
          var j = 0
          while (j < sum.length) { sum(j) /= count; j += 1 }
          (key, sum)
        }.collect()
      val next = books.map(_.map(_.clone()))
      val kk = books(0).length
      means.foreach { case (key, mean) => next(key / kk)(key % kk) = mean }
      books = next // empty cells keep their previous entry
      it += 1
    }
    books
  }

  /** IVF coarse quantizer: `pqTrain`'s single codebook of `nlist` entries
    * over whole vectors (m = 1). Assignment and summation happen inside
    * mapPartitions, so each iteration shuffles only the partitions × nlist
    * pre-aggregated partials, never the corpus.
    */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iterations: Int = 3): Array[Array[Double]] =
    pqTrain(corpus, idCol, vecCol, m = 1, ksub = nlist, iterations)(0)

  /** The one encoder: the inverted-list code table (cell, id, code, norm)
    * — each vector's nearest cell, the m-byte PQ code of its residual to
    * that cell's centroid, and its TRUE norm (kept so the ADC scan ranks by
    * cosine, not just inner product). ~dim·4/m × compression of the scan
    * set: at 100 TB of float32 embeddings the code table is the only thing
    * the top-k scan reads.
    */
  private def encode(base: Dataset[(Long, Seq[Float])], centBc: Broadcast[Array[Array[Double]]],
      bookBc: Broadcast[Array[Array[Array[Double]]]]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base.mapPartitions { rows =>
      val cents = centBc.value
      val books = bookBc.value
      val dsub = books(0)(0).length
      rows.map { case (id, vec) =>
        val arr = toDoubles(vec)
        val nrm = math.sqrt(dotAt(arr, 0, arr, arr.length))
        val cell = toResidual(arr, cents)
        val code = Array.tabulate(books.length)(sub =>
          nearestSub(arr, sub * dsub, dsub, books(sub)).toByte)
        (cell, id, code, nrm)
      }
    }.toDF("cell", "id", "code", "norm")
  }

  /** Encode each vector to an m-byte PQ code plus its true norm: the
    * encoder with no coarse cells, as (id, code, norm).
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val sc = corpus.sparkSession.sparkContext
    encode(vectors(corpus, idCol, vecCol), sc.broadcast(NoCells), sc.broadcast(codebooks))
      .drop("cell")
  }

  /** The one ANN candidate shape: on executors, each query probes its
    * `nprobe` nearest cells (only the centroids are broadcast) and emits one
    * (cell, query_id, qvec) row per probed cell; those rows equi-join the
    * corpus's cell table `corpusCells` (cell, neighbor_id, …) on `cell`, self
    * matches dropped. No query row reaches the driver, and the join is
    * hash-partitioned by Spark, never a cross join with the corpus.
    */
  private def probeJoin(corpusCells: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cents: Broadcast[Array[Array[Double]]], nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val np = math.min(nprobe, cents.value.length)
    val queryCells = vectors(queries, idCol, vecCol).mapPartitions { rows =>
      val cs = cents.value
      rows.flatMap { case (id, vec) =>
        probe(toDoubles(vec), cs, np).map(cell => (cell, id, vec))
      }
    }.toDF("cell", "query_id", "qvec")
    corpusCells.join(queryCells, "cell").filter(col("query_id") =!= col("neighbor_id"))
  }

  /** IVF / PQ / IVFPQ top-k on one core (Jégou et al. 2011 §IV, the FAISS
    * IVFPQ shape):
    *
    *  1. ONE product quantizer trained on the RESIDUALS (vector − nearest
    *     centroid) — residuals concentrate near 0 so the same codebook
    *     budget quantizes much finer than raw-vector PQ;
    *  2. the code table (`encode`);
    *  3. `probeJoin`: codes in each query's probed cells;
    *  4. ADC scoring in one pass over the joined rows, (dot(q, centroid) +
    *     Σ lut[code]) / (‖q‖·‖x‖) with the TRUE vector norm — cosine ranking
    *     from m byte lookups. Each partition builds a query's m×ksub LUT, ‖q‖
    *     and per-cell centroid dots once, on its first row of that query.
    *     The rows carry the query vector (dim floats), not the LUT (m·ksub
    *     doubles): the typed pass decodes every field of every row;
    *  5. `topK` to `rerank` candidates per query: Spark plans it as a
    *     partial `WindowGroupLimit` before the shuffle (for rerank ≤
    *     `spark.sql.optimizer.windowGroupLimitThreshold`, 1000), so the
    *     shuffle is O(partitions · Q · rerank);
    *  6. the candidates exact-rerank against their true vectors.
    */
  private def adcTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, centroids: Array[Array[Double]],
      nprobe: Int, m: Int, ksub: Int, iterations: Int, rerank: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = vectors(corpus, idCol, vecCol)
    val centBc = spark.sparkContext.broadcast(centroids)
    val residuals = base.mapPartitions { rows =>
      val cents = centBc.value
      rows.map { case (id, vec) =>
        val arr = toDoubles(vec)
        toResidual(arr, cents)
        (id, arr.map(_.toFloat).toSeq)
      }
    }.toDF("id", "vec")
    val bookBc = spark.sparkContext.broadcast(
      pqTrain(residuals, "id", "vec", m, ksub, iterations))
    val codes = encode(base, centBc, bookBc).withColumnRenamed("id", "neighbor_id")
    val cand = probeJoin(codes, queries, idCol, vecCol, centBc, nprobe)
      .select("query_id", "qvec", "cell", "neighbor_id", "code", "norm")
      .as[(Long, Array[Float], Int, Long, Array[Byte], Double)]
      .mapPartitions { rows =>
        val cents = centBc.value
        val books = bookBc.value
        val kk = books(0).length
        val dsub = books(0)(0).length
        val memo = scala.collection.mutable.HashMap
          .empty[Long, (Array[Double], Double, Array[Double])]
        rows.map { case (qid, qv, cell, id, code, nrm) =>
          val (lut, qNorm, cellDots) = memo.getOrElseUpdate(qid, {
            val q = qv.map(_.toDouble)
            (Array.tabulate(books.length * kk)(i =>
                dotAt(q, i / kk * dsub, books(i / kk)(i % kk), dsub)),
              math.sqrt(dotAt(q, 0, q, q.length)),
              cents.map(c => dotAt(q, 0, c, math.min(q.length, c.length))))
          })
          var adc = cellDots(cell)
          var sub = 0
          while (sub < code.length) { adc += lut(sub * kk + (code(sub) & 0xff)); sub += 1 }
          (qid, id, adc / math.max(qNorm * nrm, 1e-12))
        }
      }.toDF("query_id", "neighbor_id", "adc_cos")
    val topCand = topK(cand, "adc_cos", math.max(k, rerank)).drop("rank", "adc_cos")
    val truth = corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("nvec"))
    val qDf = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qvec"))
    cosineTopK(topCand.join(truth, "neighbor_id").join(qDf, "query_id"), k)
  }

  /** IVF ANN top-k: corpus vectors are bucketed by nearest centroid cell;
    * each query probes its `nprobe` nearest cells and exact-reranks only
    * those cells' vectors (`probeJoin`); recall is the standard
    * nprobe/nlist trade.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iterations: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ivfTrain(corpus, idCol, vecCol, nlist, iterations))
    val corpusCells = vectors(corpus, idCol, vecCol).mapPartitions { rows =>
      val cents = bc.value
      rows.map { case (id, vec) => (nearestCell(toDoubles(vec), cents), id, vec) }
    }.toDF("cell", "neighbor_id", "nvec")
    cosineTopK(probeJoin(corpusCells, queries, idCol, vecCol, bc, nprobe), k)
  }

  /** PQ ANN top-k with ADC: the quantizer core with one zero cell. Per
    * query, a m×ksub inner-product lookup table against the codebooks turns
    * each corpus distance into m table lookups over the byte code (no
    * per-dim float math in the scan); approximate cosine = ADC-dot /
    * (‖q‖ · true ‖x‖); the top-`rerank` candidates exact-rerank.
    *
    * Measured recall@10 vs brute force on the synthetic dim-64 corpus
    * (uniform random — PQ's WORST case, no cluster structure): 0.29 /
    * 0.52 / 0.72 / 0.87 at rerank 10/32/64/128 with m=8, ksub=16; real
    * embedding distributions quantize far better. The rerank knob is the
    * standard recall/throughput trade.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, iterations: Int = 3,
      rerank: Int = 64): DataFrame =
    adcTopK(corpus, queries, idCol, vecCol, k, NoCells, 1, m, ksub, iterations, rerank)

  /** IVF+PQ composition — the FAISS IVFPQ shape, what a 100-TB vector
    * corpus actually runs: `ivfTrain`'s k-means cells, then the quantizer
    * core over residuals to them, probing `nprobe` cells per query.
    *
    * vs `pqTopK`: the scan does nprobe/nlist of the ADC work per query.
    * vs `ivfTopK`: probed cells are scanned as m-byte codes, not floats.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      iterations: Int = 3, rerank: Int = 64): DataFrame =
    adcTopK(corpus, queries, idCol, vecCol, k,
      ivfTrain(corpus, idCol, vecCol, nlist, iterations), nprobe, m, ksub, iterations, rerank)
}
