package graft

import org.scalatest.funsuite.AnyFunSuite

/** The strict flag parse shared by KgJob, KgIncrementalJob and StreamJob. */
class CliSpec extends AnyFunSuite {

  private val known = Set("--input", "--output")

  test("an odd argument list is refused, listing the accepted flags") {
    val e = intercept[RuntimeException](Cli.flags(Array("--input", "a", "--output"), known))
    assert(e.getMessage == "odd argument list --input a --output; expected --flag value pairs " +
      "from --input, --output", e.getMessage)
  }

  test("an unknown flag is refused, naming it") {
    val e = intercept[RuntimeException](Cli.flags(Array("--input", "a", "--ouptut", "b"), known))
    assert(e.getMessage == "unknown option(s) --ouptut; accepted: --input, --output", e.getMessage)
  }

  test("flag value pairs parse to a map") {
    assert(Cli.flags(Array("--output", "o", "--input", "i"), known) ==
      Map("--input" -> "i", "--output" -> "o"))
    assert(Cli.flags(Array.empty, known) == Map.empty)
  }
}
