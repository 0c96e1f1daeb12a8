package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness's JSON lines stay ASCII, whatever the query names and
  * failure messages hold. */
class BenchSpec extends AnyFunSuite {

  test("jsonString escapes control and non-ASCII chars, one escape per UTF-16 unit") {
    val in = "a—é\u0001" + new String(Character.toChars(0x1F600))
    assert(Bench.jsonString(in) == "\"a\\u2014\\u00e9\\u0001\\ud83d\\ude00\"")
    assert(Bench.jsonString("q\"\\\u007f") == "\"q\\\"\\\\\\u007f\"")
  }
}
