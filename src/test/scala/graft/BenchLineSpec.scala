package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Pins the graded bench line (Bench.summaryLine): the stdout line is
  * one JSON object with exactly the graded fields and no per-query
  * map, its length stays bounded however many queries fail, the one
  * raw external string (the SF path) is escaped, and the median is the
  * upper-mid rule. Pure functions — no SparkSession.
  */
class BenchLineSpec extends AnyFunSuite {

  private def fields(line: String): Map[String, JValue] =
    JsonMethods.parse(line) match {
      case JObject(fs) => fs.toMap
      case other       => fail(s"not a JSON object: $other")
    }

  test("stdout line parses as JSON with exactly the graded fields") {
    val ln = Bench.summaryLine(52.17, 38.9, 113, 0, "3fccd702", 3, 100L,
      "/data/sf0.1")
    val f = fields(ln)
    assert(f.keySet === Set("metric", "value", "unit", "total_min",
      "n_queries", "fixtures", "reps", "ts", "sf"))
    assert(f("metric") === JString("total"))
    assert(f("value") === JDouble(52.17))
    assert(f("unit") === JString("sec"))
    assert(f("n_queries") === JInt(113))
    assert(f("reps") === JInt(3))
    assert(f("ts") === JInt(100))
    assert(f("sf") === JString("/data/sf0.1"))
    assert(!ln.contains("\n"), "one line")
    // the ledger line is the same line plus the per-query fragment
    val full = fields(Bench.summaryLine(52.17, 38.9, 113, 0, "3fccd702", 3,
      100L, "x", perQuery = ""","spread":{"q1":{"min":1.0,"med":2.0,"max":3.0}}"""))
    assert(full.contains("spread") && full("value") === JDouble(52.17))
  }

  test("stdout line stays under 2000 chars when every query failed") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.size === 113)
    val ln = Bench.summaryLine(1234.5678, 999.1234, names.size, names.size,
      "3fccd702", 3, 1786000000L, "/data/sf0.1")
    val f = fields(ln)
    assert(f("failed") === JInt(113))
    assert(names.forall(n => !ln.contains(n)), "no per-query names on stdout")
    assert(ln.length < 2000, s"line must fit a short stdout tail: ${ln.length}")
  }

  test("sf is escaped when the path holds a quote, backslash or control char") {
    val raw = "/data/a\"b\\c\td\u0001e"
    val f = fields(Bench.summaryLine(1.0, 1.0, 1, 0, "abc", 3, 1L, raw))
    assert(f("sf") === JString(raw))
  }

  test("median is the upper-mid element") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) === 3.0)
    assert(Bench.median(Seq(7.0)) === 7.0)
  }
}
