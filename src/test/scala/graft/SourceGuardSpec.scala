package graft

import org.scalatest.funsuite.AnyFunSuite

class SourceGuardSpec extends AnyFunSuite {

  test("no program source carries a crash hook: kill tests crash the file system (CrashFs)") {
    val hooks = SourceGuard.lines(Set.empty, "failAfter", "[test hook]", "injected crash")
    assert(hooks.isEmpty, s"crash hooks in the program:\n${hooks.mkString("\n")}")
  }

  test("every observed write and the triple fingerprint live in GraphSink: one silent-zero guard") {
    val offenders = SourceGuard.lines(Set("GraphSink.scala"),
      "Observation(", ".observe(", "xxhash64(conv_id, turn_idx, subj, pred, obj))")
    assert(offenders.isEmpty,
      s"observed outside GraphSink.writeObserved:\n${offenders.mkString("\n")}")
  }

  test("one connected-components loop: ccStep has one call site and nothing calls the durable forwarder") {
    def calls(name: String) = SourceGuard.lines(Set.empty, s"$name(").filterNot(_.contains(s"def $name("))
    val steps = calls("ccStep")
    assert(steps.size == 1, s"ccStep must be called from one loop only:\n${steps.mkString("\n")}")
    val durable = calls("connectedComponentsLoopDurable")
    assert(durable.isEmpty,
      s"call connectedComponentsLoop(nodes, edges, Some(dir)) instead:\n${durable.mkString("\n")}")
  }
}
