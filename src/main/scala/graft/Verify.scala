package graft
import java.nio.file.{Files, Paths}
import graft.util.Session
/** Driver-run correctness dump: each [[SparkEntry.registry]] query's result
  * → parquet, plus oracle_sql.json, for the driver's DuckDB compare. Both
  * follow [[Entry.inRunOrder]], and a query whose output breaks
  * [[Entry.contract]] fails the run. */
object Verify {

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset (dev fast path)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = Session.start(Session.local("graft-verify"))
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val entries = Entry.inRunOrder(SparkEntry.registry)
    // Written BEFORE the query loop (same order): a mid-run kill must leave
    // a readable oracle map alongside whatever parquet dirs finished.
    val json = entries.map(e => s"${q(e.name)}: ${q(e.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    var nPass, nFail = 0
    val selected = entries.filter(e => only.forall(_.contains(e.name)))
    selected.foreach { e =>
      SparkEntry.sharedSeconds()
      val t0 = System.nanoTime()
      try {
        val out = e.run(spark, sfDir)
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${e.name}")
        val rows = spark.read.parquet(s"$outDir/${e.name}").count()
        val sec = (System.nanoTime() - t0) / 1e9
        val breaches = Entry.contract(out.schema, rows)
        if (breaches.nonEmpty) throw new IllegalStateException(
          s"output contract: ${breaches.mkString("; ")} (rows=$rows)")
        // shared: the part of the total spent building shared state (graph,
        // stores, indexes) this query was the first to need; the caches are
        // built lazily, so a killed run still finds the early dumps
        println(f"[verify] PASS ${e.name} rows=$rows ${sec}%.1fs shared=${SparkEntry.sharedSeconds()}%.1fs")
        nPass += 1
      } catch { case err: Throwable =>
        System.err.println(s"[verify] FAIL ${e.name}: ${err.getMessage}")
        nFail += 1
      }
    }
    println(s"[verify] done pass=$nPass fail=$nFail total=${selected.size}")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
