package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Ckpt._

/** Document deduplication family for large-scale training-data pipelines,
  * over the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Exact dedup is a hash group-by. Near-dup runs the one MinHash-LSH join
  * of [[graft.similarity.Lsh]] (the one canonicalization runs) over word
  * 3-gram shingles; the n-gram Jaccard baseline counts shared shingles for
  * every pair and scores them with the same exact-Jaccard scorer. At 100 TB
  * the band buckets bound join fan-out, and no stage ever joins the full
  * text — only (doc_id, shingle) projections.
  */
object DocDedup {
  import graft.similarity.Lsh

  /** Pair-column names of the document LSH join. */
  val Docs = Lsh.Keys("doc_id", "doc_a", "doc_b")

  /** Exact dedup: keep min doc_id per md5(text); emit survivors with their
    * duplicate counts (groupBy-hash — the classic exact pass).
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_dups"))

  /** (doc_id, shingle): distinct word 3-gram shingles of lowercased text.
    * A document under 3 tokens has none.
    */
  def wordShingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .where(size(col("toks")) >= 3) // sequence(1, 0) would slice from 0
      .select(
        col("doc_id"),
        explode(
          expr("transform(sequence(1, size(toks) - 2), " +
            "i -> array_join(slice(toks, i, 3), ' '))")
        ).as("shingle")
      )
      .distinct()

  /** Near-duplicate pairs by the LSH join: (doc_a, doc_b, jaccard), exact
    * shingle-Jaccard ≥ `minJaccard`, doc_a < doc_b.
    */
  def nearDupPairs(docs: DataFrame, minJaccard: Double): DataFrame =
    Lsh.pairs(wordShingles(docs), Docs, minJaccard)

  /** SimHash (32-bit) per document as a '0'/'1' bit-string — bit j is the
    * majority vote of md5-hex-char parities across word tokens. Bit-string
    * output keeps the oracle portable (no cross-engine integer-hash drift).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .withColumn("h", md5(col("tok").cast("binary")))
    val voteAggs = (0 until 32).map { j =>
      // hex char parity -> ±1 vote (instr exists in both Spark and DuckDB)
      sum(
        when(expr(s"instr('13579bdf', substr(h, ${j + 1}, 1)) > 0"), 1).otherwise(-1)
      ).as(s"b$j")
    }
    val votes = toks.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    votes.select(
      col("doc_id"),
      concat((0 until 32).map(j => when(col(s"b$j") > 0, "1").otherwise("0")): _*)
        .as("simhash_bits")
    )
  }

  /** N-gram-Jaccard near-dup without LSH (the exact quadratic baseline,
    * bounded by an inverted-index join — for parity testing the LSH path):
    * every pair sharing a shingle, scored by [[Lsh.scored]].
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double): DataFrame = {
    val sh = wordShingles(docs).cache()
    val inter = sh
      .as("x")
      .join(sh.as("y"), Seq("shingle"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = Lsh.scored(sh, inter, Docs, minJaccard).lcp() // as in Lsh.pairs
    sh.unpersist()
    pairs
  }
}
