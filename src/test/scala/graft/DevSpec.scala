package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.Locale

/** The `Dev` CLI's commands on the shared session (none may stop it). */
class DevSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = s"${Dev.TestData}/sf0.001"

  private def stdout(body: => Unit): String = {
    val buf = new ByteArrayOutputStream
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  test("plans-to writes one formatted plan file per query") {
    val out = Files.createTempDirectory("graft-dev-plans")
    val queries = Seq("q_agg_pricing", "q_join_agg")
    val printed = stdout(Dev.plansTo(spark, out.toString, "after", queries, sfDir))
    queries.foreach { q =>
      val plan = Files.readString(out.resolve(s"${q}_after.txt"))
      assert(plan.startsWith("== Physical Plan =="), q)
      assert(plan.contains("Scan parquet"), q)
      assert(printed.contains(s"wrote $out/${q}_after.txt"), q)
    }
    assert(Files.list(out).count() == 2)
  }

  test("query prints the header row, then at most maxRows rows as TSV") {
    val lines = stdout(Dev.query(spark, "q_agg_pricing", sfDir, 2)).split("\n")
    assert(lines.head ==
      Seq("l_returnflag", "l_linestatus", "sum_qty", "revenue", "avg_qty", "n_rows")
        .mkString("\t"))
    assert(lines.length == 3)
    assert(lines.tail.forall(_.split("\t").length == 6))
  }

  test("SparkEntry.entry yields one row per page of its synthetic web") {
    val site = crawl.SyntheticWeb.generate(
      crawl.SyntheticWeb.Spec(hosts = 2, pagesPerHost = 5, hotHostFactor = 1))
    val ids = SparkEntry.entry(spark).collect().map(_.getString(0))
    assert(ids.nonEmpty)
    assert(ids.sorted.toSeq == site.pages.values.map(_.url).toSeq.sorted)
  }

  test("substr-skew's result line stays valid JSON under a decimal-comma default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val line = try Dev.substrSkewLine(40000, 1.5, 2.25, 7L, 12.125, 9L)
      finally Locale.setDefault(prev)
    assert(line == """{"metric":"exact_substr_skew","docs":40000,"hot_docs":20000,""" +
      """"warm_sec":1.500,"capped_sec":2.250,"capped_removed":7,""" +
      """"uncapped_sec":12.125,"uncapped_removed":9}""")
    assert(new ObjectMapper().readTree(line).get("uncapped_sec").asDouble() == 12.125)
  }

  test("an unknown or missing command prints the usage and fails without a session") {
    Seq(Array("no-such-command"), Array.empty[String]).foreach { args =>
      val err = new ByteArrayOutputStream
      val status = Console.withErr(err)(
        Dev.run(args, (_, _, _) => fail("a session was started")))
      assert(status != 0)
      val usage = err.toString("UTF-8")
      assert(usage.startsWith("usage: graft.Dev <command> [args]"))
      Seq("demo", "crawl", "plans", "plans-to", "recall", "query", "substr-skew")
        .foreach(c => assert(usage.contains(s"\n  $c "), c))
    }
  }
}
