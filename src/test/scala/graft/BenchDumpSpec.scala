package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-gate dump: the previous full flight is the burst baseline,
  * so a filtered dev run must leave it whole. */
class BenchDumpSpec extends AnyFunSuite {
  private def dir(): Path = Files.createTempDirectory("graft-bench")

  test("a filtered run leaves the full flight's dump in place") {
    val d = dir()
    Bench.writeDump(d, filtered = false,
      """{"q1_a":1.250,"q2_b":-1,"over_budget_gates":[],"gate_budget_sec":5.000}""")
    val partial = Bench.writeDump(d, filtered = true, """{"q1_a":9.000}""")
    assert(partial.getFileName.toString == Bench.FilteredDump)
    assert(Bench.readFlight(d.resolve(Bench.FullDump)) ==
      Map("q1_a" -> 1.25, "q2_b" -> -1.0, "gate_budget_sec" -> 5.0))
    assert(Bench.readFlight(partial) == Map("q1_a" -> 9.0))
  }

  test("a full run replaces the baseline") {
    val d = dir()
    Bench.writeDump(d, filtered = false, """{"q1_a":1.250}""")
    val full = Bench.writeDump(d, filtered = false, """{"q3_c":2.5e-1}""")
    assert(full.getFileName.toString == Bench.FullDump)
    assert(Bench.readFlight(full) == Map("q3_c" -> 0.25))
  }

  test("no previous flight means no baseline") {
    assert(Bench.readFlight(dir().resolve(Bench.FullDump)).isEmpty)
  }
}
