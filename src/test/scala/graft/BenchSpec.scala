package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import java.util.Locale

class BenchSpec extends AnyFunSuite {

  test("the result line stays valid JSON under a decimal-comma default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val line = try Bench.resultLine("/data/sf", 4, 3,
        results = Seq("q_a" -> 1.5, "crawl" -> 12.25),
        samples = Seq("q_a" -> Seq(1.5, 2.0, -0.125)), failed = Seq("q_b"),
        stats = Seq("crawl_pages" -> 10L, "crawl_pages_per_sec" -> 0.8163,
          "seeded_bloom_engaged" -> true))
      finally Locale.setDefault(prev)
    assert(line == """{"metric":"total","value":13.750,"unit":"sec",""" +
      """"queries":{"q_a":1.500,"crawl":12.250,"q_b":null},""" +
      """"samples":{"q_a":[1.500,2.000,-0.125]},"failed":["q_b"],"reps":3,""" +
      """"sf":"/data/sf","cpus":4,"crawl_pages":10,"crawl_pages_per_sec":0.8,""" +
      """"seeded_bloom_engaged":true}""")
    assert(new ObjectMapper().readTree(line).get("queries").get("q_b").isNull)
  }
}
