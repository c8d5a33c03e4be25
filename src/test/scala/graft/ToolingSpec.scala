package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guards for the bench's result parsing: constants that name fields
  * elsewhere fail here, not silently.
  */
class ToolingSpec extends AnyFunSuite {

  test("a scaling leg's LEG line carries raw shuffle bytes, not whole MiB") {
    val line = """LEG {"build_sec":12.5,"edges":1000,"warm_sec":3.0,"task_sec":40.0,""" +
      """"cpu_sec":35.5,"spill_mb":0,"shuffle_bytes":3670016,"gc_sec":0.8,"exec_gc_sec":1.2}"""
    val r = ScalingLeg.parseLeg(Seq("noise", line)).get
    assert(r.shuffleBytes == 3670016L) // 3.5 MiB: truncated MiB would give 3
    assert(r.shuffleMb == 3L)
    assert(r.edges == 1000L && r.buildSec == 12.5 && r.execGcSec == 1.2)
  }
}
