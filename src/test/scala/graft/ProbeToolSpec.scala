package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ProbeTool

/** The dev harness validates its arguments before it starts a session. */
class ProbeToolSpec extends AnyFunSuite {

  test("an unknown mode is rejected up front, with a usage string naming every mode") {
    val err = intercept[IllegalArgumentException] {
      ProbeTool.main(Array("explian", "/nonexistent/probe_out", "q1_agg"))
    }
    assert(err.getMessage.contains("unknown mode explian"), err.getMessage)
    assert(err.getMessage.contains("explain|explainexec|snapshot"), err.getMessage)
    assert(!new java.io.File("/nonexistent/probe_out").exists())
  }
}
