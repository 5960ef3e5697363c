package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The failure record Verify (errors.json) and Bench (bench.json "failed")
  * write. */
class JsonSpec extends AnyFunSuite {

  test("failures render {query: [class, message]} that parses back verbatim") {
    val msg = "bad \"col\"\tat\r\nline 2 \\ \u0001"
    val out = parse(Json.failures(Seq(
      "q01_x" -> new IllegalStateException(msg),
      "q02_y" -> new RuntimeException())))
    assert(out == JObject(
      "q01_x" -> JArray(List(JString("java.lang.IllegalStateException"), JString(msg))),
      "q02_y" -> JArray(List(JString("java.lang.RuntimeException"), JString("")))))
    assert(Json.failures(Nil) == "{}")
  }
}
