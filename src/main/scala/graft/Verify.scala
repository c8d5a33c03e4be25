package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Gate ordering: cheapest queries FIRST, the measured heavy tail LAST
    * (Spark-side costs from the committed bench JSONs; every oracle is now
    * <0.5 s after the MATERIALIZED-CTE fix). A time-budgeted driver gate
    * that kills the run mid-way then still finds complete parquet dumps for
    * the bulk of the suite — partial, never empty. Every name must be a
    * `SparkEntry.queries` entry with an oracle; a test holds it to that.
    */
  val heavyTail: Seq[String] = Seq(
    "kg_coverage_kinds", "kg_link_text_endpoints", "kg_hybrid_search_budget",
    "kg_subtree", "dp_ngram_jaccard", "kg_shortest_path", "dp_neardup_lsh",
    "kg_subtree_directed", "kg_path_typed", "kg_path", "kg_incremental_snapshot",
    "kg_incremental", "st_graph_ingest")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset (dev fast path)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.Tuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    def rank(n: String): (Int, String) = (heavyTail.indexOf(n), n)
    // Written BEFORE the query loop (same order): a mid-run kill must leave
    // a readable oracle map alongside whatever parquet dirs finished.
    val json = SparkEntry.oracleSql.toSeq.sortBy(kv => rank(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    var nPass, nFail = 0
    val selected = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(kv => rank(kv._1))
    selected.foreach { case (name, fn) =>
      SparkEntry.sharedSeconds()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val rows = spark.read.parquet(s"$outDir/$name").count()
        val sec = (System.nanoTime() - t0) / 1e9
        // shared: the part of the total spent building shared state (graph,
        // stores, indexes) this query was the first to need; the caches are
        // built lazily, so a killed run still finds the early dumps
        println(f"[verify] PASS $name rows=$rows ${sec}%.1fs shared=${SparkEntry.sharedSeconds()}%.1fs")
        nPass += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] FAIL $name: ${e.getMessage}")
        nFail += 1
      }
    }
    println(s"[verify] done pass=$nPass fail=$nFail total=${selected.size}")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
