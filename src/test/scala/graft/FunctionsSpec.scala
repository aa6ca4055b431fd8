package graft

import graft.functions.XxHash64Seed0
import graft.ops.DatasetExport
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("XxHash64Seed0 expression matches the kernel hash, eval and codegen") {
    val texts = Seq("", "a", "abc", "hello world", "x" * 100, "προς δοκιμή")
    val df = texts.toDF("t")
      .withColumn("h", XxHash64Seed0.xxhash64_seed0(col("t")))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    texts.foreach { t =>
      assert(got(t) == graft.core.TextStats.textHash(t), s"mismatch for '$t'")
    }
    // null propagation
    val withNull = Seq(Some("x"), None).toDF("t")
      .withColumn("h", XxHash64Seed0.xxhash64_seed0(col("t")))
    assert(withNull.filter(col("t").isNull).head().isNullAt(1))
  }

  test("XxHash64Seed0 registers as a SQL function") {
    XxHash64Seed0.register(spark)
    val r = spark.sql("SELECT xxhash64_seed0('abc') AS h").head().getLong(0)
    assert(r == graft.core.TextStats.textHash("abc"))
    assert(r == 0x44BC2CF5AD770999L) // public xxh64 seed-0 vector
  }

  test("XxHash64Seed0 stays inside whole-stage codegen") {
    // file-backed source (a local relation would be constant-folded away)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("h", XxHash64Seed0.xxhash64_seed0(col("text")))
      .filter(col("h") =!= 0)
      .select(col("doc_id"), col("h"))
    // "*(n)" prefixes in the executed plan mark whole-stage-codegen'd nodes
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("*(1) Filter"),
      s"expression fell out of codegen:\n$plan")
    // and it computes the right values through the codegen path
    val row = df.orderBy("doc_id").head()
    val text = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .orderBy("doc_id").head().getString(1)
    assert(row.getLong(1) == graft.core.TextStats.textHash(text))
  }

  test("UnicodeNormalize: known vectors, composed==decomposed, codegen, SQL") {
    import graft.functions.UnicodeNormalize
    val composed = "caf\u00e9"      // e-acute as one codepoint
    val decomposed = "cafe\u0301"   // e + combining acute
    val df = Seq((1, composed), (2, decomposed), (3, "\u212B"), (4, "\uFB01"))
      .toDF("id", "t")
      .select(col("id"),
        UnicodeNormalize.nfc(col("t")).as("nfc"),
        UnicodeNormalize.nfd(col("t")).as("nfd"),
        UnicodeNormalize.nfkc(col("t")).as("nfkc"),
        UnicodeNormalize.foldAccents(col("t")).as("folded"))
    val byId = df.collect().map(r => r.getInt(0) ->
      (r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap
    // composed and decomposed converge under both canonical forms
    assert(byId(1)._1 == byId(2)._1 && byId(1)._1 == composed)
    assert(byId(1)._2 == byId(2)._2 && byId(1)._2 == decomposed)
    // NFC singleton: angstrom sign (U+212B) -> A-with-ring (U+00C5)
    assert(byId(3)._1 == "\u00c5", byId(3).toString)
    // compatibility form expands the fi ligature; canonical does not
    assert(byId(4)._3 == "fi" && byId(4)._1 == "\uFB01")
    assert(byId(1)._4 == "cafe" && byId(2)._4 == "cafe")
    // null propagation
    val n = Seq(Option.empty[String]).toDF("t")
      .select(UnicodeNormalize.nfc(col("t"))).head()
    assert(n.isNullAt(0))
    // SQL registration with a literal form
    UnicodeNormalize.register(spark)
    assert(spark.sql("SELECT unicode_normalize('cafe\u0301', 'NFC') = 'caf\u00e9'")
      .head().getBoolean(0))
  }

  test("UnicodeNormalize stays inside whole-stage codegen") {
    import graft.functions.UnicodeNormalize
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("n", UnicodeNormalize.nfc(col("text")))
      .filter(length(col("n")) > 0)
      .select(col("doc_id"), col("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("*(1) Filter"),
      s"expression fell out of codegen:\n$plan")
    assert(df.count() > 0)
  }

  test("dataset export: language filter, site gate, deterministic split dirs") {
    val docs = (0 until 300).map { i =>
      val site = if (i % 3 == 0) "a.com" else if (i % 3 == 1) "b.com" else "tiny.com"
      val n = if (site == "tiny.com" && i > 20) 0 else 1 // tiny.com stays < 10 docs
      (s"https://$site/p$i", if (i % 2 == 0) "en" else "fr", s"text $i")
    }.filter { case (u, _, _) => !(u.contains("tiny") && u.drop(18).toIntOption.exists(_ > 20)) }
      .toDF("doc_id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    DatasetExport.write(docs, "doc_id", out, langFilter = Some("en"), minDocs = 10)
    // README.md dataset card sits at the root (HF layout) — glob to parquet
    val back = spark.read.option("pathGlobFilter", "*.parquet").parquet(out)
    assert(back.select("lang").distinct().collect().map(_.getString(0)).toSet == Set("en"))
    val sites = back.select("website").distinct().collect().map(_.getString(0)).toSet
    assert(sites == Set("a.com", "b.com"), s"got $sites") // tiny.com gated out
    val splits = back.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "valid", "test")) && splits.contains("train"))
    // partition dirs exist on disk (hive layout)
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("website="))
    assert(dirs.nonEmpty)
  }
}
