package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.queriesObject]]: the prior-timings read that orders Bench's
  * first pass. */
class BenchSpec extends AnyFunSuite {

  test("queriesObject reads every entry of the object, whatever follows it") {
    val line = """{"metric":"total","value":3.5,"queries": { "q1" : 1.25, "q_2":-1.0,""" +
      """"q\"3":2E-3 },"errors":{"q_2":"boom}"},"load1":{"end":0.5}}"""
    assert(Bench.queriesObject(line) == Map("q1" -> 1.25, "q_2" -> -1.0, "q\"3" -> 0.002))
    assert(Bench.queriesObject("""{"queries":{}}""") == Map.empty)
  }

  test("queriesObject reads a results line of several hundred entries whole") {
    // the shape Bench writes: every 20th query skipped (-1), and nested
    // objects with braces after the queries object
    val entries = (0 until 300).map(i => s"q_$i" -> (if (i % 20 == 0) -1.0 else i * 0.01 + 0.5))
    val line = entries.map { case (k, v) => s""""$k":$v""" }
      .mkString("""{"metric":"total","value":42.0,"timed":285,"skipped":15,"queries":{""",
        ",", """},"errors":{"q_0":"skipped: {budget}"},"load1":{"start":1.0,"end":0.5}}""")
    val q = Bench.queriesObject(line)
    assert(q == entries.toMap)
    assert(q.size == 300 && q.values.count(_ > 0) == 285)
  }

  test("queriesObject refuses a truncated or missing object instead of reading part of it") {
    Seq("""{"queries":{"q1":1.0,"q2":""", """{"queries":{"q1":1.0 "q2":2.0}}""",
      """{"value":1.0}""", """{"queries":{"q1":"1.0"}}""").foreach { bad =>
      intercept[Exception](Bench.queriesObject(bad))
    }
  }
}
