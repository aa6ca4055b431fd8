package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import java.util.Locale

class BenchExtraSpec extends AnyFunSuite {

  test("the result line stays valid JSON under a decimal-comma default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val line = try BenchExtra.resultLine(40000, 1.5, 2.25, 7L, 12.125, 9L)
      finally Locale.setDefault(prev)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText() == "exact_substr_skew")
    assert(json.get("docs").asInt() == 40000)
    assert(json.get("warm_sec").asDouble() == 1.5)
    assert(json.get("capped_sec").asDouble() == 2.25)
    assert(json.get("uncapped_sec").asDouble() == 12.125)
    assert(json.get("capped_removed").asLong() == 7L)
    assert(json.get("uncapped_removed").asLong() == 9L)
  }
}
