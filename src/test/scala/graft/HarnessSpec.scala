package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure pieces of the bench harnesses: the JSON string escaper shared by
  * `Bench` and `Verify`, and `BenchScale`'s per-row scale gate. */
class HarnessSpec extends AnyFunSuite {

  test("the JSON escaper escapes quote, backslash, newline, tab and control chars") {
    val raw = "a\"b\\c\nd\te\u0001f"
    assert(Bench.jesc(raw) == "a\\\"b\\\\c\\nd\\te\\u0001f")
    assert(Bench.jstr(raw) == "\"" + Bench.jesc(raw) + "\"")
    // and a JSON parser reads the original string back
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readValue(Bench.jstr(raw), classOf[String]) == raw)
  }

  test("the answer-class scale gate fails a row whose x1 probe returned no rows") {
    // (c10/c1) · (r1/r10) would be 0 here and pass whatever the x10 cost
    assert(BenchScale.scaleGate("answer", 50.0, 0L, 1000L) == ((-1.0, false)))
    assert(BenchScale.scaleGate("answer", 10.0, 100L, 1000L) == ((1.0, true)))
    assert(!BenchScale.scaleGate("answer", 40.0, 100L, 1000L)._2)
    // other classes gate the total CPU ratio against the linear budget
    assert(BenchScale.scaleGate("linear", 15.0, 0L, 0L)._2)
    assert(!BenchScale.scaleGate("linear", 17.0, 5L, 50L)._2)
    assert(BenchScale.scaleGate("composite", 19.0, 5L, 50L)._2)
  }
}
