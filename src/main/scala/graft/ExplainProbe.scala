package graft

/** Dev-only plan dump (not part of the driver contract): primes the shared
  * caches, then prints `explain("formatted")` for the named queries so plan
  * claims (index probe vs corpus scan, broadcast vs shuffle, pushdown) are
  * auditable from the terminal.
  */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Bench.session(s"local[$cpus]", 8)
    SparkEntry.prime(spark, sfDir)
    args.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
