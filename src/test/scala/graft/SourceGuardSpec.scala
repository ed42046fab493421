package graft

import org.scalatest.funsuite.AnyFunSuite

class SourceGuardSpec extends AnyFunSuite {

  test("no program source carries a crash hook: kill tests crash the file system (CrashFs)") {
    val hooks = SourceGuard.lines(Set.empty, "failAfter", "[test hook]", "injected crash")
    assert(hooks.isEmpty, s"crash hooks in the program:\n${hooks.mkString("\n")}")
  }
}
