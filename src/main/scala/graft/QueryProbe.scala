package graft

/** Dev-only per-query timing probe (not part of the driver contract):
  * primes the shared caches exactly like Bench, then times a named subset
  * of `SparkEntry.queries` (args = query names; default = the known-slow
  * set), reporting two runs each so plan-compile vs execute separate.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "16").toInt
    val spark = Bench.session(cpus, parts)
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq(
        "kg_pagerank", "kg_incremental", "kg_incremental_snapshot",
        "kg_hybrid_search", "kg_hybrid_search_budget", "kg_node_vector_search",
        "kg_node_embeddings", "kg_path", "kg_shortest_path",
        "kg_subtree", "kg_subtree_directed", "kg_impact")
    val t0 = System.nanoTime()
    SparkEntry.prime(spark, sfDir)
    println(f"[qprobe] prime: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val protectedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to 2).foreach { i =>
        val q0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        println(f"[qprobe] $n run$i: ${(System.nanoTime() - q0) / 1e9}%.2f s rows=$rows")
        Bench.purgeExcept(spark, protectedIds)
      }
    }
    spark.stop()
  }
}
