package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Extra, NON-CONTRACT benchmarks (guide §1.4 isolation legs that do not
  * belong in the frozen driver harness `Bench`).
  *
  * Current leg — exactSubstrDedup hot-window skew (the round-6 verdict's
  * #1 scale watch item): one 40-token boilerplate passage planted in HALF
  * the corpus, so its 21 interior windows each occur hot-docs times and
  * their win_hash keys carry half the corpus into the removal join when
  * uncapped. The leg times the removal with the occurrence cap engaged
  * (boilerplate excluded from the join build side — the hot keys never
  * produce output) vs uncapped, on the same materialized corpus.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nDocs = sys.env.getOrElse("GRAFT_EXTRA_DOCS", "40000").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // every doc: 40 id-unique tokens; even ids additionally carry the SAME
    // 40-token boilerplate (21 shared 20-token windows per hot doc)
    val boiler = (0 until 40).map(i => s"boiler$i").mkString(" ")
    val docs = spark.range(nDocs).select($"id".as("doc_id"),
      concat_ws(" ",
        (0 until 40).map(j => concat(lit(s"u${j}_"), $"id")) :+
          when($"id" % 2 === 0, lit(boiler)).otherwise(lit("")): _*).as("text"))
      .persist()
    docs.count()
    def leg(cap: Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val out = graft.ops.Dedup.exactSubstrDedup(docs, "doc_id", "text",
        minTokens = 20, maxOccurrences = cap)
      val removed = out.agg(sum($"dup_tokens_removed")).head().getLong(0)
      ((System.nanoTime() - t0) / 1e9, removed)
    }
    val (warmSec, _) = leg(1000L) // JIT/codegen warmup, untimed leg
    val (cappedSec, cappedRemoved) = leg(1000L)
    val (uncappedSec, uncappedRemoved) = leg(Long.MaxValue)
    println(resultLine(nDocs, warmSec, cappedSec, cappedRemoved, uncappedSec,
      uncappedRemoved))
    spark.stop()
  }

  /** The leg's one-line JSON result. Seconds are formatted under
    * Locale.ROOT: a default locale with a decimal comma must not turn
    * `1.234` into `1,234` and break the JSON.
    */
  def resultLine(nDocs: Int, warmSec: Double, cappedSec: Double,
      cappedRemoved: Long, uncappedSec: Double, uncappedRemoved: Long): String = {
    def sec(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    s"""{"metric":"exact_substr_skew","docs":$nDocs,"hot_docs":${nDocs / 2},"warm_sec":${sec(warmSec)},"capped_sec":${sec(cappedSec)},"capped_removed":$cappedRemoved,"uncapped_sec":${sec(uncappedSec)},"uncapped_removed":$uncappedRemoved}"""
  }
}
