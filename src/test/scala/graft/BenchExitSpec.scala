package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's exit status: every failure class maps to its own code, and a
  * broken artifact never masks query errors. */
class BenchExitSpec extends AnyFunSuite {
  test("exitCode: query errors outrank a parse error, which outranks a cold rebuild") {
    assert(Bench.exitCode(0, parseError = false, coldRebuild = false) == 0)
    assert(Bench.exitCode(2, parseError = false, coldRebuild = false) == 1)
    assert(Bench.exitCode(0, parseError = true, coldRebuild = false) == 3)
    assert(Bench.exitCode(0, parseError = false, coldRebuild = true) == 2)
    assert(Bench.exitCode(1, parseError = true, coldRebuild = false) == 1,
      "a parse error must not hide query errors")
    assert(Bench.exitCode(1, parseError = true, coldRebuild = true) == 1)
    assert(Bench.exitCode(0, parseError = true, coldRebuild = true) == 3)
  }
}
