package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("bench JSON numbers keep a decimal point under a comma-decimal locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${1.5}%.3f" == "1,500") // what the f interpolator printed
      val qs = Bench.queriesJson(Seq("a", "b"), Map("a" -> 1.5, "b" -> -1.0))
      assert(qs == """{"a":1.500,"b":-1.000}""")
      val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(qs)
      assert(parsed.get("a").asDouble == 1.5)
      assert(Bench.fixed(1234.56, 1) == "1234.6")
      assert(Bench.fixed(0.125, 2) == "0.13")
    } finally Locale.setDefault(saved)
  }
}
