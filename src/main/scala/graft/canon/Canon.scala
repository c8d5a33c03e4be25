package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Ckpt._

/** Canonicalization — alias merging beyond exact keys (north rule; the
  * reference only collapses EXACT canonical keys via MERGE, utils.rs:82-136,
  * so this stage GENERALIZES its F1/F2 identity semantics — SURVEY.md §2.F):
  *
  *   character-3-gram shingles -> the MinHash-LSH join of
  *   [[graft.similarity.Lsh]] (band keys, candidate pairs, exact-Jaccard
  *   scoring) -> connected components -> cluster labels (min name).
  *
  * [[clusters]] is size-adaptive: a dimension under [[DriverCcMaxVertices]]
  * names is clustered on the driver from one collect (band keys evaluated
  * by Lsh's band expression, buckets and scores in memory, then
  * [[unionFind]]); a larger one runs the distributed join and
  * [[connectedComponents]], the label-propagation loop. CanonSpec holds the
  * two equal.
  */
object Canon {
  import graft.similarity.Lsh

  /** Pair-column names of canonicalization's LSH join. */
  val Names = Lsh.Keys("name", "name_a", "name_b")

  // lowercase character 3-grams of `lname`, in name order (repeats kept)
  private val Grams = "transform(sequence(1, length(lname) - 2), i -> substr(lname, i, 3))"

  /** (name) -> (name, shingle): distinct lowercase character 3-grams. */
  def shingles(names: DataFrame): DataFrame =
    names
      .select(col("name"), lower(col("name")).as("lname"))
      .where(length(col("lname")) >= 3)
      .select(col("name"), explode(expr(Grams)).as("shingle"))
      .distinct()

  /** MinHash band keys: (name, band_idx, band_key). */
  def bands(sh: DataFrame): DataFrame = Lsh.bands(sh, "name")

  /** LSH-blocked candidate pairs with exact Jaccard >= `minJaccard`:
    * (name_a, name_b, jaccard), name_a < name_b.
    */
  def candidatePairs(names: DataFrame, minJaccard: Double): DataFrame =
    Lsh.pairs(shingles(names), Names, minJaccard)

  /** UTF-8 byte order — the SAME total order Spark's UTF8String binary
    * comparisons (min("cluster"), col(a) < col(b)) use. Java String
    * compareTo orders by UTF-16 code UNITS, which disagrees with code-point
    * order for supplementary-plane characters (surrogates 0xD800+ sort below
    * BMP chars >= 0xE000), so a driver path using compareTo could pick a
    * different component root than the distributed twin. All driver-side
    * min-root selections go through this comparator.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.util.Arrays.compareUnsigned(x, y) < 0
  }

  /** Per-bucket candidate budget for the driver fast path of [[clusters]]:
    * an LSH bucket of m names yields m(m-1)/2 driver-heap pairs, so a skewed
    * bucket (many near-identical names) is quadratic where the distributed
    * bucket self-join would spill. Past the budget the distributed join runs
    * instead (identical semantics). A bucket over [[Lsh.MaxBucket]] names
    * alone exceeds it, so the driver never pairs a bucket the join drops.
    */
  val DriverMaxCandidatePairs: Long = 2L << 20

  /** Vertex-count ceiling for the driver fast path of [[clusters]]. The
    * canonical-name dimension is bounded by the dictionary (it exists to
    * merge aliases of a known entity vocabulary), so in practice it is
    * broadcast-scale: below the ceiling the distributed join and loop (~20
    * Spark jobs of fixed cost) dwarf a driver pass over one collect. Above
    * it the distributed path runs; correctness is identical, only the
    * execution site adapts to the measured dimension size, like AQE picking
    * a broadcast join under a size threshold.
    */
  val DriverCcMaxVertices: Long = 100000L

  /** Size-adaptive clustering: (name, cluster), semantically IDENTICAL to
    * `connectedComponents(names, candidatePairs(names, minJaccard))` (same
    * shingles, band keys, buckets, exact-Jaccard gate and min-name
    * components; CanonSpec asserts equality). Under [[DriverCcMaxVertices]]
    * names it runs on the driver from ONE collect of the dimension, which
    * carries each name's shingle set and its band keys from
    * [[Lsh.bandKeys]]; candidates, scores and [[unionFind]] run in memory.
    * That collect is limited to one row past the ceiling and decides the
    * path itself, so no count runs first: over a one-partition dimension
    * (a small checkpointed `distinct`, as the build passes) the driver path
    * is one Spark job.
    */
  def clusters(names: DataFrame, minJaccard: Double): DataFrame = {
    val spark = names.sparkSession
    import spark.implicits._
    def distributed = connectedComponents(names, candidatePairs(names, minJaccard))
    // dimension-sized; callers pass a checkpointed frame. One row past the
    // ceiling is enough to tell a dimension too large for the driver.
    val rows = names
      .limit((DriverCcMaxVertices + 1).toInt)
      .select(col("name"), lower(col("name")).as("lname"))
      .select(col("name"), when(length(col("lname")) >= 3, array_distinct(expr(Grams))).as("sh"))
      .select(col("name"), col("sh"), Lsh.bandKeys(col("sh")).as("keys"))
      .collect()
    if (rows.length > DriverCcMaxVertices) return distributed
    val nm = rows.map(_.getString(0)).toSeq
    // <3-char names have no shingles, hence no bands
    val sh = rows.filter(!_.isNullAt(1)).map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    val buckets = rows.filter(!_.isNullAt(1)).toSeq
      .flatMap(r => r.getSeq[String](2).zipWithIndex.map(bk => bk -> r.getString(0)))
      .groupMap(_._1)(_._2)
    // pair budget BEFORE materializing pairs on the driver heap
    if (buckets.values.map(xs => xs.size.toLong * (xs.size - 1) / 2).sum > DriverMaxCandidatePairs)
      return distributed
    def jaccard(a: String, b: String): Double = {
      val inter = (sh(a) & sh(b)).size
      inter.toDouble / (sh(a).size + sh(b).size - inter)
    }
    val pairs = buckets.values.flatMap(_.combinations(2)).toSeq.distinct
      .collect { case Seq(a, b) if jaccard(a, b) >= minJaccard => (a, b) }
    unionFind(nm, pairs).toDF("name", "cluster")
  }

  /** The driver union-find: (name, cluster) for every name, cluster = the
    * min name of its component under `pairs` (pairs naming an unknown
    * vertex are ignored). The larger root always hangs under the smaller in
    * UTF-8 byte order, Spark's string order, so every component's root IS
    * its min name: the fixpoint [[connectedComponents]] converges to.
    */
  def unionFind(names: Seq[String], pairs: Seq[(String, String)]): Seq[(String, String)] = {
    val parent = scala.collection.mutable.HashMap.from(names.map(x => x -> x))
    @annotation.tailrec
    def find(x: String): String =
      if (parent(x) == x) x else { parent(x) = parent(parent(x)); find(parent(x)) }
    pairs.foreach { case (a, b) =>
      if (parent.contains(a) && parent.contains(b)) {
        val (ra, rb) = (find(a), find(b))
        if (utf8Lt(ra, rb)) parent(rb) = ra else if (utf8Lt(rb, ra)) parent(ra) = rb
      }
    }
    names.map(x => (x, find(x)))
  }

  /** Connected components over the pair graph, distributed: (name,
    * cluster), cluster = min name in the component, by smallest-label
    * propagation over undirected pair edges until fixpoint, localCheckpoint
    * per iteration (north rule; SURVEY.md §7.5 item 3).
    */
  def connectedComponents(
      vertices: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 50
  ): DataFrame = {
    val bi = pairs
      .select(col("name_a").as("src"), col("name_b").as("dst"))
      .unionByName(pairs.select(col("name_b").as("src"), col("name_a").as("dst")))
      .cache()
    var labels = vertices.select(col("name"), col("name").as("cluster")).lcp()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val msgs = labels
        .join(bi, labels("name") === bi("src"))
        .groupBy(col("dst").as("name"))
        .agg(min("cluster").as("nbr_min"))
      val next = labels
        .join(msgs, Seq("name"), "left")
        .withColumn("new_cluster", least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))))
        .select(col("name"), col("new_cluster").as("cluster"), col("cluster").as("old"))
        .lcp()
      changed = next.where(col("cluster") =!= col("old")).count()
      labels = next.select("name", "cluster")
      it += 1
    }
    bi.unpersist()
    labels
  }
}
