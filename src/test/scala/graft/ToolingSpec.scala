package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guards for the bench's result parsing and for the measurement
  * module: constants that name fields elsewhere fail here, not silently.
  */
class ToolingSpec extends AnyFunSuite {

  test("a scaling leg's LEG line carries raw shuffle bytes, not whole MiB") {
    val line = """LEG {"build_sec":12.5,"nodes":400,"edges":1000,"warm_sec":3.0,"task_sec":40.0,""" +
      """"cpu_sec":35.5,"spill_mb":2,"shuffle_bytes":3670016,"gc_sec":0.8,"exec_gc_sec":1.2}"""
    val Seq(r) = BuildLeg.parse(Seq("noise", line))
    assert(r == BuildLeg.LegResult(buildSec = 12.5, nodes = 400L, edges = 1000L, warmSec = 3.0,
      taskSec = 40.0, cpuSec = 35.5, spillMb = 2L, shuffleBytes = 3670016L, gcSec = 0.8,
      execGcSec = 1.2))
    assert(r.shuffleMb == 3L) // 3.5 MiB: the LEG line keeps the bytes
    assert(r.line == line)
    assert(BuildLeg.parse(Seq(r.line, "noise", r.copy(nodes = 7L).line)) == Seq(r, r.copy(nodes = 7L)))
  }

  test("only graft.obs adds a SparkListener or reads the GC MXBeans") {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      val offenders = files.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.toString.contains("/graft/obs/"))
        .filter { p =>
          val src = java.nio.file.Files.readString(p)
          src.contains("addSparkListener") || src.contains("getGarbageCollectorMXBeans")
        }
        .toList
      assert(offenders.isEmpty, s"measure through graft.obs.Meter instead: ${offenders.mkString(", ")}")
    } finally files.close()
  }
}
