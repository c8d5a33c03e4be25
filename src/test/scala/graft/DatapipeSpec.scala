package graft

import org.apache.spark.sql.GraftTestHooks
import org.apache.spark.sql.functions._
import graft.datapipe.{Ann, DocDedup, Multimodal, TextStats}

/** Training-data pipeline operators over documents/embeddings. */
class DatapipeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  test("exact dedup: survivors + duplicate counts partition the corpus") {
    val d = DocDedup.exact(docs)
    assert(d.agg(sum("n_dups")).as[Long].head() == docs.count())
    assert(d.select("text_hash").distinct().count() == d.count())
  }

  test("near-dup LSH pairs are a subset of exact n-gram Jaccard pairs") {
    val lsh = DocDedup.nearDupPairs(docs, minJaccard = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = DocDedup.ngramJaccardPairs(docs, minJaccard = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH must not invent pairs (exact post-filter)")
    // identical texts must always collide in every band -> full recall there
    val identicalPairs = docs.as("x")
      .join(docs.as("y"), col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).as[(Long, Long)].collect().toSet
    assert(identicalPairs.subsetOf(lsh),
      s"identical docs must be LSH candidates (missing ${identicalPairs.diff(lsh).take(3)})")
  }

  test("simhash: identical texts share bits; bit-string is 32 chars of 0/1") {
    val sh = DocDedup.simhash(docs).cache()
    assert(sh.where(length(col("simhash_bits")) =!= 32).isEmpty)
    assert(sh.where(regexp_replace(col("simhash_bits"), "[01]", "") =!= "").isEmpty)
    val dupBits = docs.groupBy("text").agg(collect_set("doc_id").as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_id"), md5(col("text").cast("binary")).as("h"))
      .join(sh, "doc_id")
      .groupBy("h").agg(countDistinct("simhash_bits").as("k"))
    assert(dupBits.where(col("k") > 1).isEmpty, "same text -> same simhash")
  }

  test("ANN: dp_ann_ivf leaves nothing in Spark's cache manager") {
    val before = GraftTestHooks.cachedPlans(spark)
    assert(SparkEntry.queries("dp_ann_ivf")(spark, sf0001).collect().nonEmpty)
    assert(GraftTestHooks.cachedPlans(spark) == before, "dp_ann_ivf registered a cached plan it never releases")
  }

  test("ANN: IVF results are a subset of the brute-force candidate scores") {
    val brute = Ann.bruteTopKDot(emb, nQueries = 5, k = 10)
      .select("query_id", "cand_id", "score").as[(Long, Long, Long)].collect()
      .map { case (q, c, s) => (q, c) -> s }.toMap
    val ivf = Ann.ivfTopK(emb, nCentroids = 4, nQueries = 5, k = 10, iters = 0)
      .select("query_id", "cand_id", "score").as[(Long, Long, Long)].collect()
    assert(ivf.nonEmpty)
    // scores agree wherever both considered the pair
    ivf.foreach { case (q, c, s) =>
      brute.get((q, c)).foreach(bs => assert(bs == s, s"score drift for ($q,$c)"))
    }
    // recall@10 of the IVF path is reported (not gated — cell probe is lossy)
    val bruteSets = Ann.bruteTopKDot(emb, 5, 10)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivfSets = ivf.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bruteSets.map { case (q, bs) =>
      ivfSets.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }
    info(f"IVF recall@10 = ${recalls.sum / recalls.size}%.3f")
  }

  test("embedding near-dup: pairs are cell-local, a<b, above threshold, and " +
    "exactly the thresholded subset of the cell-local brute pairs") {
    val thr = 0.3
    val pairs = Ann.embeddingNearDupPairs(emb, nCentroids = 4, threshold = thr)
      .select("cell", "a_id", "b_id", "cos").as[(Long, Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "threshold should keep some cell-local pairs")
    pairs.foreach { case (_, a, b, c) =>
      assert(a < b, s"pair ($a,$b) not ordered")
      assert(c >= thr, s"pair ($a,$b) below threshold: $c")
    }
    // cross-check against an independent cell-local brute computation
    val assigned = Ann.ivfAssign(emb, 4, iters = 0)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    pairs.foreach { case (cell, a, b, _) =>
      assert(assigned(a) == cell && assigned(b) == cell, s"pair ($a,$b) not cell-local")
    }
    val allCellPairs = Ann.embeddingNearDupPairs(emb, 4, threshold = -1.0)
      .select("a_id", "b_id", "cos").as[(Long, Long, Double)].collect()
    val expect = allCellPairs.filter(_._3 >= thr).map(p => (p._1, p._2)).toSet
    assert(pairs.map(p => (p._2, p._3)).toSet == expect, "thresholded subset mismatch")
  }

  test("ANN: cosine and dot agree on ranking for the same query when norms are similar") {
    val cos = Ann.bruteTopKCosine(emb, nQueries = 2, k = 5)
    assert(cos.count() == 10)
    assert(cos.where(col("cos") > 1.0001 || col("cos") < -1.0001).isEmpty, "cosine in [-1,1]")
  }

  test("text stats: token counts, quality, language id, fingerprint") {
    val tc = TextStats.tokenCounts(docs)
    assert(tc.where(col("ws_tokens") <= 0 || col("bpe_ish_tokens") < col("ws_tokens") / 2).count() == 0)
    val q = TextStats.quality(docs)
    assert(q.where(col("stop_ratio") < 0 || col("stop_ratio") > 1).isEmpty)
    val lid = TextStats.langId(docs)
    assert(lid.select("pred_lang").distinct().as[String].collect().toSet.subsetOf(Set("en", "unk")))
    // fingerprint is order-insensitive: shuffled token order -> same print
    val shuffled = docs.select(col("doc_id"),
      array_join(reverse(split(col("text"), " ")), " ").as("text"))
    val f1 = TextStats.fingerprint(docs)
    val f2 = TextStats.fingerprint(shuffled)
    assertSameRows(f1, f2)
  }

  test("multimodal: mapPartitions decode == Catalyst twin") {
    val media = Multimodal.asBinary(docs)
    val a = Multimodal.stubDecode(spark, media).toDF()
    val b = Multimodal.stubDecodeCatalyst(media)
    assertSameRows(a, b)
  }
}
