package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden outputs of the dedup family on sf0.001: order-insensitive row
  * digests of every dedup `SparkEntry` query, and the rows and output
  * schemas of the exact-substring and connected-components operators over
  * Int ids (their own surrogate) and URL-form String ids (numbered by the
  * id dictionary, whose order differs from the numeric one). The constants
  * were recorded before the family's n-gram builders, set-similarity joins
  * and id dictionaries were merged; a change to gram building, the capped
  * join, owner selection or id numbering shows up as a digest mismatch.
  */
class DedupGoldenSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")

  private def sha(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** Order-insensitive digest of every row's `Row.toString`. */
  private def rowsDigest(df: DataFrame): String =
    sha(df.collect().map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))

  /** Output column names and types (nullability not pinned). */
  private def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  test("dedup-family SparkEntry rows are unchanged") {
    val got = Seq("q_jaccard_pairs", "q_winnow_pairs", "q_winnow_jaccard",
      "q_minhash_lsh", "q_minhash_jaccard", "q_decontam", "q_pipeline_stats",
      "q_exact_substr", "q_dedup_clusters", "q_neardup_export").map { q =>
      q -> rowsDigest(SparkEntry.queries(q)(spark, sfDir))
    }.toMap
    assert(got == Map(
      "q_jaccard_pairs" -> "44e602a8fc890740",
      "q_winnow_pairs" -> "345ff492821b8f0e",
      "q_winnow_jaccard" -> "d020a8a6eb027be2",
      "q_minhash_lsh" -> "0d0f9f32719b0a97",
      "q_minhash_jaccard" -> "e61c4b14ad75d5c6",
      "q_decontam" -> "f691736f530b51d2",
      "q_pipeline_stats" -> "2e0caabe6e869792",
      "q_exact_substr" -> "f43b5075b419a550",
      "q_dedup_clusters" -> "1233e9727e4ce646",
      "q_neardup_export" -> "d1b452beae13818b"), got)
  }

  /** The same documents under Int ids and under URL-form String ids. */
  private def intDocs: DataFrame =
    docs.select(col("doc_id").cast("int").as("doc_id"), col("text"))
  private def urlDocs: DataFrame =
    docs.select(concat(lit("https://s.example.com/d"), col("doc_id")).as("doc_id"),
      col("text"))

  test("exact-substring matches and removal over Int and String ids are unchanged") {
    val got = Seq("int" -> intDocs, "url" -> urlDocs).flatMap { case (kind, d) =>
      val m = Dedup.exactSubstrMatches(d, "doc_id", "text", minTokens = 20)
      val r = Dedup.exactSubstrDedup(d, "doc_id", "text", minTokens = 20)
      Seq(s"matches_$kind" -> s"${schemaOf(m)} ${rowsDigest(m)}",
        s"dedup_$kind" -> s"${schemaOf(r)} ${rowsDigest(r)}")
    }.toMap
    val matches = "start_tok:int,len_tok:int,owner_id:%s,owner_start:int," +
      "win_md5:string,owner_md5:string"
    assert(got == Map(
      "matches_int" -> s"doc_id:int,${matches.format("int")} f43b5075b419a550",
      "dedup_int" -> "doc_id:int,text:string,dup_tokens_removed:int 1da9a9ab1e032fc1",
      "matches_url" -> s"doc_id:string,${matches.format("string")} 6b9f64004d3ba8e4",
      "dedup_url" -> "doc_id:string,text:string,dup_tokens_removed:int 1a2b766c60716676"),
      got)
  }

  test("connected components over Int and String ids are unchanged") {
    val pairs = Similarity.exactNearDupPairs(
      spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 200),
      "vec_id", "embedding", threshold = 0.3)
    val intPairs = pairs.select(col("id_a").cast("int").as("id_a"),
      col("id_b").cast("int").as("id_b"))
    def url(c: String) = concat(lit("https://s.example.com/d"), col(c)).as(c)
    val urlPairs = pairs.select(url("id_a"), url("id_b"))
    val got = Seq(
      "int" -> Dedup.connectedComponents(intPairs),
      "url" -> Dedup.connectedComponents(urlPairs),
      // several contraction partitions: the stitch loop runs
      "url_parts4" -> Dedup.connectedComponents(urlPairs, contractionParts = Some(4))
    ).map { case (kind, cc) => kind -> s"${schemaOf(cc)} ${rowsDigest(cc)}" }.toMap
    assert(got == Map(
      "int" -> "id:bigint,cluster:bigint 1233e9727e4ce646",
      "url" -> "id:string,cluster:string cb14610128c1573f",
      "url_parts4" -> "id:string,cluster:string cb14610128c1573f"), got)
  }
}
