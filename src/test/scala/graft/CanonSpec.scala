package graft

import org.apache.spark.sql.functions._
import graft.canon.Canon

/** Canonicalization: MinHash-LSH blocking + exact-Jaccard scoring +
  * iterative-DataFrame connected components (north rule §2.F).
  */
class CanonSpec extends SparkSpec {
  import spark.implicits._

  private val names = Seq(
    "postgres", "postgresql", "postgres-db", // one alias cluster
    "apachekafka", "apache-kafka",           // another
    "redis",                                  // singleton
    "sparkengine", "spark-engine"            // another
  ).toDF("name")

  test("LSH candidate pairs find the true near-duplicate alias pairs") {
    val pairs = Canon
      .candidatePairs(names, minJaccard = 0.4)
      .select("name_a", "name_b")
      .as[(String, String)]
      .collect()
      .toSet
    assert(pairs.contains(("postgres", "postgresql")) || pairs.contains(("postgresql", "postgres")))
    assert(pairs.contains(("apache-kafka", "apachekafka")))
    assert(pairs.contains(("spark-engine", "sparkengine")))
    // no cross-cluster pollution
    assert(!pairs.exists { case (a, b) => a.contains("redis") || b.contains("redis") })
  }

  test("connected components merge transitive alias chains to one cluster") {
    // postgres ~ postgresql ~ postgres-db may only pair via the middle node;
    // CC must still produce a single cluster label (transitivity)
    val pairs = Canon.candidatePairs(names, minJaccard = 0.3)
    val labels = Canon
      .connectedComponents(names, pairs)
      .as[(String, String)]
      .collect()
      .toMap
    assert(labels("postgresql") == labels("postgres"))
    assert(labels("postgres-db") == labels("postgres"))
    assert(labels("apache-kafka") == labels("apachekafka"))
    assert(labels("redis") == "redis", "singleton keeps its own label")
    assert(labels("postgres") != labels("apachekafka"), "clusters stay separate")
  }

  test("CC converges on a ring graph (worst-case propagation)") {
    val n = 12
    val vs = (0 until n).map(i => f"v$i%02d").toDF("name")
    val ring = (0 until n)
      .map(i => (f"v$i%02d", f"v${(i + 1) % n}%02d"))
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .toDF("name_a", "name_b")
    val labels = Canon.connectedComponents(vs, ring).as[(String, String)].collect()
    assert(labels.map(_._2).distinct.toSeq == Seq("v00"))
  }

  test("banding is deterministic across runs") {
    val b1 = Canon.bands(Canon.shingles(names))
    val b2 = Canon.bands(Canon.shingles(names.repartition(7)))
    assertSameRows(b1, b2)
  }

  test("driver union-find fast path ≡ distributed label-propagation loop") {
    // ring + a chain + singletons: exercises transitive merging both ways
    val vs = ((0 until 10).map(i => f"r$i%02d") ++ Seq("c0", "c1", "c2", "solo")).toDF("name")
    val edges = ((0 until 10)
      .map(i => (f"r$i%02d", f"r${(i + 1) % 10}%02d"))
      .map { case (a, b) => if (a < b) (a, b) else (b, a) } ++
      Seq(("c0", "c1"), ("c1", "c2"))).toDF("name_a", "name_b")
    val fast = Canon
      .unionFind(vs.as[String].collect().toSeq, edges.as[(String, String)].collect().toSeq)
      .toDF("name", "cluster")
    val loop = Canon.connectedComponents(vs, edges)
    assertSameRows(fast, loop)
  }

  test("the driver path of clusters runs one job") {
    // checkpointed like the build's canonical-name dimension
    val dim = names.distinct().localCheckpoint()
    val jobs = jobsRun(Canon.clusters(dim, 0.3))
    assert(jobs == 1, s"driver clustering ran $jobs jobs")
  }

  test("adaptive driver clustering ≡ distributed LSH pipeline end-to-end") {
    val adaptive = Canon.clusters(names, 0.3)
    val distributed = Canon.connectedComponents(names, Canon.candidatePairs(names, 0.3))
    assertSameRows(adaptive, distributed)
  }
}
