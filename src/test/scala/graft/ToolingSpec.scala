package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guards for the bench's result parsing, the measurement module,
  * the session definition, the specs' scratch dirs and the sources' bytes:
  * constants that name fields elsewhere fail here, not silently, and so does
  * an entry point that builds its own session, a spec that leaves a dir in
  * the temp dir or a source that grep cannot read as text.
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

  /** The sources under `root`, other than those whose path contains one of
    * `except`, whose text `bad` matches.
    */
  private def sourcesWhere(root: String, except: String*)(bad: String => Boolean)
      : List[java.nio.file.Path] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      files.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(p => except.exists(p.toString.contains))
        .filter(p => bad(java.nio.file.Files.readString(p)))
        .toList
    } finally files.close()
  }

  test("only graft.obs adds a SparkListener or reads the GC MXBeans") {
    val offenders = sourcesWhere("src/main", "/graft/obs/") { src =>
      src.contains("addSparkListener") || src.contains("getGarbageCollectorMXBeans")
    }
    assert(offenders.isEmpty, s"measure through graft.obs.Meter instead: ${offenders.mkString(", ")}")
  }

  test("only graft.util.Session builds a SparkSession") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val offenders =
      sourcesWhere("src/main", "/graft/util/Session.scala")(builder.findFirstIn(_).isDefined)
    assert(offenders.isEmpty, s"start from graft.util.Session instead: ${offenders.mkString(", ")}")
  }

  test("specs make their dirs through SparkSpec.tempDir, which Spark deletes") {
    // a dir made in java.io.tmpdir outlives the test JVM
    val offenders = sourcesWhere("src/test", "/SparkSpec.scala", "/ToolingSpec.scala")(
      _.contains("createTempDirectory"))
    assert(offenders.isEmpty, s"use SparkSpec.tempDir instead: ${offenders.mkString(", ")}")
  }

  test("no Scala source holds a control character other than tab, newline or CR") {
    // grep reads a file with a raw control byte as binary and skips it
    def control(c: Char) = Character.isISOControl(c) && c != '\t' && c != '\n' && c != '\r'
    val offenders = Seq("src", "kgbench/src").flatMap(sourcesWhere(_)(_.exists(control)))
    assert(offenders.isEmpty, s"write control characters as escapes: ${offenders.mkString(", ")}")
  }

  test("graft.app.Main's session carries every Session conf") {
    // the builder's options (a Spark-internal member), read without
    // starting a session
    val b = graft.app.Main.builder
    val options = b.getClass.getMethod("options").invoke(b).asInstanceOf[scala.collection.Map[String, String]]
    graft.util.Session.confs.foreach { case (k, v) =>
      assert(options.get(k).contains(v), s"Main sets $k to ${options.get(k)}, Session to $v")
    }
  }
}
