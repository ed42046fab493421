package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.median(xs) == 5.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("self time subtracts the union of child intervals, clipped to the span") {
    // children overlap each other and stick out on both sides
    val children = Seq((-5L, 10L), (5L, 20L), (30L, 40L), (35L, 38L), (90L, 200L))
    assert(Stats.coveredLength(children, 0L, 100L) == 20 + 10 + 10)
    assert(Stats.selfTime(0L, 100L, children) == 60)
    assert(Stats.selfTime(0L, 100L, Nil) == 100)
    assert(Stats.selfTime(0L, 100L, Seq((0L, 100L), (10L, 20L))) == 0)
    assert(Stats.selfTime(50L, 60L, Seq((0L, 10L))) == 10)
  }

  test("JSON strings escape quotes, backslashes and every control character") {
    assert(Stats.jsonString("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(Stats.jsonString("line\nnext\ttab\r") == "\"line\\nnext\\ttab\\r\"")
    assert(Stats.jsonString("\u0000\u001f\u007f") == "\"\\u0000\\u001f\\u007f\"")
    assert(Stats.jsonString("\u2028") == "\"\\u2028\"")
    assert(Stats.jsonString("plain é") == "\"plain é\"")
  }

  test("JSON numbers keep every digit and refuse non-finite values") {
    assert(Stats.jsonNumber(3.0) == "3")
    assert(Stats.jsonNumber(0.1 + 0.2) == "0.30000000000000004")
    assertThrows[IllegalArgumentException](Stats.jsonNumber(Double.NaN))
    assertThrows[IllegalArgumentException](Stats.jsonNumber(Double.PositiveInfinity))
  }
}
