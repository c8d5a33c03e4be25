package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.canon.Canon
import graft.datapipe.{Ann, DocDedup}

/** The one similarity layer (`graft.similarity.Lsh`, one IVF assignment,
  * probe and recall in `Ann`) returns the rows of the separate joins it
  * replaced. The references below are spec-local copies of those joins:
  * canonicalization's and dedup's own MinHash-LSH joins, the quadratic
  * n-gram baseline, and the untrained IVF assignment and probe.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  /** The distinct Entity mention names of sf0.001 (kg_canon_* vertices). */
  private lazy val mentionNames = SparkTestSession.graph.mentions
    .where(col("mention_type") === "Entity").select("name").distinct().cache()

  private val canonNames = Seq(
    "postgres", "postgresql", "postgres-db", "apachekafka", "apache-kafka",
    "redis", "sparkengine", "spark-engine").toDF("name")

  // ------------------------------------------------------------ references

  private def jaccardOf(inter: DataFrame, sizes: DataFrame, a: String, b: String, id: String) =
    inter
      .join(sizes.withColumnRenamed(id, a).withColumnRenamed("n", "na"), Seq(a))
      .join(sizes.withColumnRenamed(id, b).withColumnRenamed("n", "nb"), Seq(b))
      .withColumn(
        "jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))

  /** K md5-min columns per id, cut into 4 bands of 2 rows. */
  private def refBands(sh: DataFrame, id: String): DataFrame = {
    val aggs = (0 until 8).map(i =>
      min(md5(concat(lit(i.toString), lit(":"), col("shingle")).cast("binary"))).as(s"h$i"))
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws("|", (0 until 2).map(r => col(s"h${b * 2 + r}")): _*).as("band_key"))
    }
    sh.groupBy(id).agg(aggs.head, aggs.tail: _*)
      .select(col(id), explode(array(bandCols: _*)).as("bk"))
      .select(col(id), col("bk.band_idx"), col("bk.band_key"))
  }

  private def refCandidatePairs(names: DataFrame, minJaccard: Double): DataFrame = {
    val sh = Canon.shingles(names)
    val b = refBands(sh, "name")
    val cand = b.as("x").join(b.as("y"), Seq("band_idx", "band_key"))
      .where(col("x.name") < col("y.name"))
      .select(col("x.name").as("name_a"), col("y.name").as("name_b")).distinct()
    val sizes = sh.groupBy("name").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("name").as("name_a"), col("shingle")), Seq("name_a"))
      .join(sh.select(col("name").as("name_b"), col("shingle")), Seq("name_b", "shingle"))
      .groupBy("name_a", "name_b").agg(count(lit(1)).as("inter"))
    jaccardOf(cand.join(inter, Seq("name_a", "name_b"), "left").na.fill(0L, Seq("inter")),
      sizes, "name_a", "name_b", "name")
      .where(col("jaccard") >= minJaccard)
      .select("name_a", "name_b", "jaccard")
  }

  private def refNearDupPairs(docs: DataFrame, minJaccard: Double): DataFrame = {
    val sh = DocDedup.wordShingles(docs)
    val banded0 = refBands(sh, "doc_id")
    val banded = banded0
      .join(banded0.groupBy("band_idx", "band_key").agg(count(lit(1)).as("bucket_n"))
        .where(col("bucket_n") <= 10000), Seq("band_idx", "band_key"))
      .drop("bucket_n")
    val cand = banded.as("x").join(banded.as("y"), Seq("band_idx", "band_key"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    jaccardOf(inter, sh.groupBy("doc_id").agg(count(lit(1)).as("n")), "doc_a", "doc_b", "doc_id")
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  private def refNgramJaccardPairs(docs: DataFrame, minJaccard: Double): DataFrame = {
    val sh = DocDedup.wordShingles(docs)
    val inter = sh.as("x").join(sh.as("y"), Seq("shingle"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    jaccardOf(inter, sh.groupBy("doc_id").agg(count(lit(1)).as("n")), "doc_a", "doc_b", "doc_id")
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  private def dotInt(a: String, b: String) = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.DotQuant(expression(col(a)), expression(col(b))))
  }

  /** The untrained quantizer: argmax of the quantized dot over the seeds. */
  private def refIvfAssign(emb: DataFrame, nCentroids: Int): DataFrame = {
    val cents = emb.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("cscore", dotInt("embedding", "centv"))
      .withColumn("arank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cscore").desc, col("centroid_id"))))
      .where(col("arank") === 1)
      .select(col("vec_id"), col("embedding"), col("centroid_id").as("cell"))
  }

  private def refIvfTopK(emb: DataFrame, nCentroids: Int, nQueries: Int, k: Int): DataFrame = {
    val assigned = refIvfAssign(emb, nCentroids)
    val q = assigned.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("cell"))
    q.join(assigned.select(col("vec_id").as("cand_id"), col("embedding").as("cv"), col("cell")),
        Seq("cell"))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("score", dotInt("qv", "cv"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id"))))
      .where(col("rank") <= k)
      .select("query_id", "cell", "cand_id", "score", "rank")
  }

  // ----------------------------------------------------------------- tests

  test("canon: band keys and LSH pairs equal the reference join") {
    Seq(mentionNames, canonNames).foreach { names =>
      assertSameRows(Canon.bands(Canon.shingles(names)), refBands(Canon.shingles(names), "name"))
    }
    val sf = Canon.candidatePairs(mentionNames, 0.5)
    assert(sf.count() > 0, "sf0.001 mention names must yield pairs")
    assertSameRows(sf, refCandidatePairs(mentionNames, 0.5))
    Seq(0.3, 0.4, 0.5).foreach { j =>
      assertSameRows(Canon.candidatePairs(canonNames, j), refCandidatePairs(canonNames, j))
    }
  }

  test("canon: driver clustering equals union-find over the reference pairs") {
    Seq((mentionNames, 0.5), (canonNames, 0.3), (canonNames, 0.4), (canonNames, 0.5)).foreach {
      case (names, j) =>
        val ref = Canon.unionFind(
          names.as[String].collect().toSeq,
          refCandidatePairs(names, j).select("name_a", "name_b")
            .as[(String, String)].collect().toSeq)
        assertSameRows(Canon.clusters(names, j), ref.toDF("name", "cluster"))
    }
  }

  test("dedup: near-dup LSH and n-gram Jaccard pairs equal the reference joins") {
    // a document under 3 tokens has no shingles (the oracle's empty range)
    val short = Seq((1L, "two words"), (2L, "one"), (3L, "three words here")).toDF("doc_id", "text")
    assert(DocDedup.wordShingles(short).as[(Long, String)].collect().toSeq ==
      Seq((3L, "three words here")))
    Seq(0.5, 0.8).foreach { j =>
      val lsh = DocDedup.nearDupPairs(docs, j)
      assert(lsh.count() > 0, s"sf0.001 documents must yield near-dup pairs at $j")
      assertSameRows(lsh, refNearDupPairs(docs, j))
      assertSameRows(DocDedup.ngramJaccardPairs(docs, j), refNgramJaccardPairs(docs, j))
    }
  }

  test("IVF: the zero-iteration quantizer and probe equal the untrained reference") {
    assertSameRows(Ann.ivfAssign(emb, 4, iters = 0), refIvfAssign(emb, 4))
    assertSameRows(Ann.ivfTopK(emb, 4, 8, 5, iters = 0), refIvfTopK(emb, 4, 8, 5))
  }
}
