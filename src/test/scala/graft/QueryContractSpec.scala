package graft

/** The registry's executable contract: every query has one record, and its
  * output at sf0.001 meets [[Entry.contract]] — scalar columns only, and at
  * least one row, so no oracle match is two empty results agreeing.
  */
class QueryContractSpec extends SparkSpec {

  test("every query is declared once, with an oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size, s"declared twice: ${names.diff(names.distinct)}")
    SparkEntry.registry.foreach(e => assert(e.oracle.trim.nonEmpty, s"${e.name} has no oracle"))
  }

  test("prime leaves no shared table unbuilt") {
    SparkEntry.prime(spark, sf0001)
    assert(SparkEntry.sharedTables.nonEmpty)
    SparkEntry.sharedTables.zipWithIndex.foreach { case (t, i) =>
      assert(t.isBuilt(spark, sf0001), s"shared table #$i is not built by prime")
    }
  }

  test("the session's graph reuses its shared mention table: no second extraction") {
    // a session of its own, so no other test has built its shared tables
    val s = spark.newSession()
    SparkEntry.mentionsOf(s, sf0001)
    val before = graft.extract.Mentions.extractionInvocations.get()
    assert(SparkEntry.graphOf(s, sf0001).nodes.count() > 0)
    assert(graft.extract.Mentions.extractionInvocations.get() == before,
      "building the graph after mentionsOf must not extract the corpus again")
  }

  test("the snapshot and streaming queries write only under Spark's files root") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    // a session of its own, so the snapshot store is built here
    val s = spark.newSession()
    val prefixes = Seq("graft-snapinc", "graft-stream")
    // the queries' dir names: a prefix and the temp-file suffix's digits
    val name = "(graft-snapinc|graft-stream)\\d+".r
    def scratch(in: Path): Set[String] = {
      val ls = Files.list(in)
      try ls.iterator.asScala.map(_.getFileName.toString).filter(name.matches).toSet
      finally ls.close()
    }
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val before = scratch(tmp)
    Seq("kg_incremental_snapshot", "st_graph_ingest").foreach(n => SparkEntry.queries(n)(s, sf0001).count())
    val leaked = scratch(tmp) -- before
    assert(leaked.isEmpty, s"written outside Spark's files root, so never deleted: ${leaked.mkString(", ")}")
    // Spark deletes this root when the context stops
    val root = Paths.get(org.apache.spark.SparkFiles.getRootDirectory())
    assert(prefixes.forall(p => scratch(root).exists(_.startsWith(p))))
  }

  Entry.inRunOrder(SparkEntry.registry).foreach { e =>
    test(s"${e.name} meets the output contract") {
      val out = e.run(spark, sf0001)
      val breaches = Entry.contract(out.schema, out.count())
      assert(breaches.isEmpty, breaches.mkString("; "))
    }
  }
}
