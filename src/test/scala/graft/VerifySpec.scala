package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** oracle_sql.json is read by a strict JSON parser: one bad escape and
  * the whole document fails to load. Round-trips Verify's string escaper
  * through Jackson for every key and value it writes. */
class VerifySpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def roundTrip(s: String): String =
    mapper.readValue(Verify.jsonString(s), classOf[String])

  test("jsonString round-trips every oracle SQL key and value") {
    assert(SparkEntry.oracleSql.nonEmpty)
    for ((k, v) <- SparkEntry.oracleSql) {
      assert(roundTrip(k) == k)
      assert(roundTrip(v) == v, s"oracle SQL of $k")
    }
  }

  test("jsonString escapes every control char, quote and backslash") {
    val hostile = (0 until 0x20).map(_.toChar).mkString + "\"\\" + "tail"
    assert(roundTrip(hostile) == hostile)
    assert(!Verify.jsonString(hostile).exists(_ < ' '))
  }

  test("Verify rejects a wrong argument count with its usage") {
    val e = intercept[IllegalArgumentException](Verify.main(Array("only-one")))
    assert(e.getMessage.contains("usage: Verify <sfDir> <outDir>"))
  }
}
