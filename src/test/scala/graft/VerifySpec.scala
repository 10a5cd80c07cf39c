package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Verify's status manifest: one entry per query, `ok` or `failed`
  * with the error, plus seconds — valid JSON even when an error message
  * carries quotes, backslashes or control characters. Pure function, no
  * SparkSession needed.
  */
class VerifySpec extends AnyFunSuite {

  test("statusJson: ok and failed entries parse back with their error and seconds") {
    val err = "org.apache.spark.SparkException: bad \"row\"\n\tat C:\\x \u0001"
    val json = Verify.statusJson(Seq(("q_a", None, 1.5), ("q_b", Some(err), 0.0004)))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.size == 2)
    assert(tree.get("q_a").get("status").asText == "ok")
    assert(!tree.get("q_a").has("error"))
    assert(tree.get("q_a").get("seconds").asDouble == 1.5)
    assert(tree.get("q_b").get("status").asText == "failed")
    assert(tree.get("q_b").get("error").asText == err)
    assert(tree.get("q_b").get("seconds").asDouble == 0.0)
  }
}
