package graft

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden outputs of the IVF / PQ / IVFPQ path on the sf0.001 embeddings:
  * the exact rows of every `SparkEntry` configuration (and of the tighter
  * rerank budgets, where the ADC scores alone pick the candidates) and the
  * bit patterns of the trained centroids and codebooks. The constants were
  * recorded from the per-query trainers and scans the shared quantizer core
  * replaced; any change to training order, encoding, probing or the ADC sum
  * shows up here as a digest mismatch.
  */
class AnnGoldenSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def queries: DataFrame = emb.filter(col("vec_id") < 10)

  private def sha(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** Order-insensitive digest of (query_id, neighbor_id, cos_sim, rank). */
  private def rowsDigest(df: DataFrame): String = sha(df.collect()
    .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)},${r.getInt(3)}")
    .sorted.mkString("\n").getBytes("UTF-8"))

  /** Digest of the raw IEEE-754 bits of every double, in order. */
  private def bitsDigest(xs: Iterable[Double]): String = {
    val buf = java.nio.ByteBuffer.allocate(8 * xs.size)
    xs.foreach(x => buf.putLong(java.lang.Double.doubleToRawLongBits(x)))
    sha(buf.array())
  }

  /** Every `SparkEntry` ANN configuration, plus the tighter rerank
    * budgets, over the query rows `q`.
    */
  private def configs(q: DataFrame): Map[String, () => DataFrame] = Map(
    "q_ivf_topk" -> (() => Similarity.ivfTopK(emb, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 8)),
    "ivf_np4" -> (() => Similarity.ivfTopK(emb, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4)),
    "q_pq_topk" -> (() => Similarity.pqTopK(emb, q, "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, rerank = 128)),
    "q_pq_exact" -> (() => Similarity.pqTopK(emb, q, "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, rerank = Int.MaxValue)),
    "pq_rerank5" -> (() => Similarity.pqTopK(emb, q, "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, rerank = 5)),
    "q_ivfpq_topk" -> (() => Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4, m = 8, ksub = 16, iterations = 2, rerank = 128)),
    "q_ivfpq_exact" -> (() => Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 8, m = 8, ksub = 16, iterations = 2,
      rerank = Int.MaxValue)),
    "ivfpq_rerank5" -> (() => Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4, m = 8, ksub = 16, rerank = 5)))

  // the three exact configurations equal brute force, hence one digest
  private val brute = "1e8ff12a2a3f3406"

  test("ANN rows of the SparkEntry configurations are unchanged") {
    val got = configs(queries).map { case (name, run) => name -> rowsDigest(run()) }
    assert(got == Map(
      "q_ivf_topk" -> brute,
      "ivf_np4" -> "9362858cfd4a186a",
      "q_pq_topk" -> "41db59a06d5398df",
      "q_pq_exact" -> brute,
      "pq_rerank5" -> "1cbfd29a2b3bfecf",
      "q_ivfpq_topk" -> "17c9687109410140",
      "q_ivfpq_exact" -> brute,
      "ivfpq_rerank5" -> "a40817e86b4dd28c"))
    assert(rowsDigest(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)) == brute)
  }

  test("the exact PQ and IVFPQ configurations need no broadcast join") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      Seq("q_pq_exact", "q_ivfpq_exact").foreach { name =>
        assert(rowsDigest(configs(queries)(name)()) == brute, name)
      }
    }
  }

  test("building an ANN query runs no job over its query rows") {
    import spark.implicits._
    val served = spark.sparkContext.longAccumulator("ann-query-rows")
    val counted = queries.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .map { r => served.add(1); r }.toDF("vec_id", "embedding")
    configs(counted).foreach { case (name, build) =>
      served.reset()
      val df = build()
      assert(served.value == 0, s"$name read its query rows before the action")
      df.collect()
      assert(served.value > 0, s"$name never read its query rows")
    }
  }

  test("trained centroids and codebooks keep their bit patterns") {
    val four = emb.repartition(4)
    val got = Seq(
      "ivf_nlist8_it3" -> bitsDigest(
        Similarity.ivfTrain(emb, "vec_id", "embedding", nlist = 8).flatten),
      "ivf_nlist8_it2" -> bitsDigest(
        Similarity.ivfTrain(emb, "vec_id", "embedding", nlist = 8, iterations = 2).flatten),
      "ivf_nlist8_it3_p4" -> bitsDigest(
        Similarity.ivfTrain(four, "vec_id", "embedding", nlist = 8).flatten),
      "pq_m8_ksub16_it3" -> bitsDigest(
        Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 16).flatten.flatten),
      "pq_m8_ksub16_it3_p4" -> bitsDigest(
        Similarity.pqTrain(four, "vec_id", "embedding", m = 8, ksub = 16).flatten.flatten))
    // the same bits at one partition and at four: on this corpus the
    // order in which the partials fold moves nothing
    assert(got.toMap == Map(
      "ivf_nlist8_it3" -> "d5a0050061d90b8a",
      "ivf_nlist8_it2" -> "d7efddb4dedc5786",
      "ivf_nlist8_it3_p4" -> "d5a0050061d90b8a",
      "pq_m8_ksub16_it3" -> "2af96d53952e4fda",
      "pq_m8_ksub16_it3_p4" -> "2af96d53952e4fda"))
  }

  test("training twice on the same input gives identical centroids") {
    val four = emb.repartition(4)
    // every call trains from scratch over the four partitions
    def train(): (Seq[Long], Seq[Long]) = (
      Similarity.ivfTrain(four, "vec_id", "embedding", nlist = 8)
        .flatten.map(java.lang.Double.doubleToRawLongBits).toSeq,
      Similarity.pqTrain(four, "vec_id", "embedding", m = 8, ksub = 16)
        .flatten.flatten.map(java.lang.Double.doubleToRawLongBits).toSeq)
    assert(train() == train())
  }
}
