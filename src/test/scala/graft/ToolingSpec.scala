package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guards for the correctness gate and the bench's result parsing:
  * constants that name queries or fields elsewhere fail here, not silently.
  */
class ToolingSpec extends AnyFunSuite {

  test("Verify.heavyTail names only queries that have an oracle") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(Verify.heavyTail.distinct == Verify.heavyTail, "duplicate heavy-tail name")
    Verify.heavyTail.foreach { n =>
      assert(queries.contains(n), s"$n is in Verify.heavyTail but not in SparkEntry.queries")
      assert(oracles.contains(n), s"$n is in Verify.heavyTail but has no oracle")
    }
  }

  test("a scaling leg's LEG line carries raw shuffle bytes, not whole MiB") {
    val line = """LEG {"build_sec":12.5,"edges":1000,"warm_sec":3.0,"task_sec":40.0,""" +
      """"cpu_sec":35.5,"spill_mb":0,"shuffle_bytes":3670016,"gc_sec":0.8,"exec_gc_sec":1.2}"""
    val r = ScalingLeg.parseLeg(Seq("noise", line)).get
    assert(r.shuffleBytes == 3670016L) // 3.5 MiB: truncated MiB would give 3
    assert(r.shuffleMb == 3L)
    assert(r.edges == 1000L && r.buildSec == 12.5 && r.execGcSec == 1.2)
  }
}
