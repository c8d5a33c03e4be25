package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Ckpt._

/** The one MinHash-LSH set-similarity join, in Spark and as oracle SQL.
  * Every set-similarity operator uses it: canonicalization's alias pairs
  * ([[graft.canon.Canon]]) over character 3-grams, and the near-duplicate
  * documents of [[graft.datapipe.DocDedup]] over word 3-grams. Its input is
  * an `(id, shingle)` frame of distinct shingles per id.
  *
  *   [[bandKeys]]   md5-MinHash signature of one shingle set, cut into bands
  *   [[candidates]] ids that share a band bucket (the LSH candidate join)
  *   [[scored]]     exact Jaccard from intersection counts, thresholded
  *
  * Portability: hash i of a set is `min(md5(i || ':' || shingle))`, a min
  * over hex STRINGS. md5 is the same in every engine and string min is byte
  * order, so the signatures are reproducible in the DuckDB oracle
  * ([[pairsCtes]]) with no numeric-hash drift.
  *
  * Bucket cap: a band key shared by B ids yields B² candidate pairs, so one
  * degenerate bucket (many near-empty sets sharing a signature) makes the
  * blocked join quadratic. Buckets above [[MaxBucket]] ids are dropped, for
  * canonicalization and dedup alike. That is a recall trade-off; the ids
  * still pair through their other bands. No sf corpus has a bucket near the
  * cap (the largest holds ≤ 5 ids), so the oracle has no mirror term.
  */
object Lsh {

  val K = 8 // signature length
  val Bands = 4
  val RowsPerBand: Int = K / Bands
  val MaxBucket = 10000L

  /** Column names of one id domain: the id column of the `(id, shingle)`
    * frame and the two pair columns of the output (a < b).
    */
  case class Keys(id: String, a: String, b: String)

  /** The band function, per row: `shingles` (a non-empty array of distinct
    * shingles) → its [[Bands]] band keys, band b being hashes
    * b·R … b·R+R−1 joined with '|'. Spark's [[bands]] and the driver fast
    * path of [[graft.canon.Canon.clusters]] both evaluate this expression.
    */
  def bandKeys(shingles: Column): Column = {
    val h = (0 until K).map(i =>
      array_min(transform(shingles, s => md5(concat(lit(s"$i:"), s).cast("binary")))))
    array((0 until Bands).map(b =>
      concat_ws("|", h.slice(b * RowsPerBand, (b + 1) * RowsPerBand): _*)): _*)
  }

  /** (id, shingle) → (id, band_idx, band_key). */
  def bands(sh: DataFrame, id: String): DataFrame =
    sh.groupBy(id)
      .agg(collect_list(col("shingle")).as("shingles")) // min ignores repeats
      .select(col(id), posexplode(bandKeys(col("shingles"))).as(Seq("band_idx", "band_key")))

  /** The LSH candidate join: distinct id pairs (a < b) that share a band
    * bucket of at most [[MaxBucket]] ids.
    */
  def candidates(sh: DataFrame, k: Keys): DataFrame = {
    val banded = bands(sh, k.id)
    val kept = banded
      .join(
        banded.groupBy("band_idx", "band_key").agg(count(lit(1)).as("bucket_n"))
          .where(col("bucket_n") <= MaxBucket),
        Seq("band_idx", "band_key"))
      .drop("bucket_n")
    kept.as("x")
      .join(kept.as("y"), Seq("band_idx", "band_key"))
      .where(col(s"x.${k.id}") < col(s"y.${k.id}"))
      .select(col(s"x.${k.id}").as(k.a), col(s"y.${k.id}").as(k.b))
      .distinct()
  }

  /** The exact-Jaccard scorer: (a, b, inter) shared-shingle counts →
    * (a, b, jaccard) with jaccard = inter / (|A| + |B| − inter) ≥ `minJaccard`.
    */
  def scored(sh: DataFrame, inter: DataFrame, k: Keys, minJaccard: Double): DataFrame = {
    val sizes = sh.groupBy(k.id).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col(k.id).as(k.a), col("n").as("na")), Seq(k.a))
      .join(sizes.select(col(k.id).as(k.b), col("n").as("nb")), Seq(k.b))
      .withColumn(
        "jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select(k.a, k.b, "jaccard")
  }

  /** Candidate pairs with exact Jaccard ≥ `minJaccard`: (a, b, jaccard).
    * A band collision implies a shared shingle, so every candidate has an
    * intersection count.
    *
    * `sh` is cached for its readers (bands, sizes, the intersection join)
    * and released before returning; the small thresholded result is
    * materialized first, so releasing it cannot trigger recomputation.
    * Caches leaked across a long query loop once drove the GC residency
    * behind a 37–244 s bench spread.
    */
  def pairs(sh: DataFrame, k: Keys, minJaccard: Double): DataFrame = {
    val c = sh.cache()
    val inter = candidates(c, k)
      .join(c.select(col(k.id).as(k.a), col("shingle")), Seq(k.a))
      .join(c.select(col(k.id).as(k.b), col("shingle")), Seq(k.b, "shingle"))
      .groupBy(k.a, k.b)
      .agg(count(lit(1)).as("inter"))
    val out = scored(c, inter, k, minJaccard).lcp()
    c.unpersist()
    out
  }

  // ------------------------------------------------------------------ SQL

  /** DuckDB twin of [[scored]], as CTEs after a CTE `sh` of (id, shingle)
    * and a CTE `${p}inter` of (a, b, inter): `${p}sizes`, then `${p}pairs`
    * (a, b, jaccard).
    */
  def scoredCtes(p: String, sh: String, k: Keys, minJaccard: Double): String = s"""
, ${p}sizes AS MATERIALIZED (SELECT ${k.id}, count(*) AS n FROM $sh GROUP BY ${k.id})
, ${p}pairs AS MATERIALIZED (
    SELECT i.${k.a}, i.${k.b}, CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
    FROM ${p}inter i
    JOIN ${p}sizes sa ON sa.${k.id} = i.${k.a}
    JOIN ${p}sizes sb ON sb.${k.id} = i.${k.b}
    WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= $minJaccard
)"""

  /** DuckDB twin of [[pairs]], as CTEs after a CTE `sh` of (id, shingle):
    * `${p}sig`, `${p}banded`, `${p}cand`, `${p}inter`, then [[scoredCtes]].
    */
  def pairsCtes(p: String, sh: String, k: Keys, minJaccard: Double): String = {
    val hs = (0 until K).map(i => s"min(md5('$i:' || shingle)) AS h$i").mkString(", ")
    val bands = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"h${b * RowsPerBand + r}").mkString(" || '|' || ")
      s"SELECT ${k.id}, $b AS band_idx, $key AS band_key FROM ${p}sig"
    }.mkString(" UNION ALL ")
    s"""
, ${p}sig AS (SELECT ${k.id}, $hs FROM $sh GROUP BY ${k.id})
, ${p}banded AS MATERIALIZED ($bands)
, ${p}cand AS MATERIALIZED (
    SELECT DISTINCT x.${k.id} AS ${k.a}, y.${k.id} AS ${k.b}
    FROM ${p}banded x JOIN ${p}banded y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
    WHERE x.${k.id} < y.${k.id}
)
, ${p}inter AS (
    SELECT c.${k.a}, c.${k.b}, count(*) AS inter
    FROM ${p}cand c JOIN $sh a ON a.${k.id} = c.${k.a}
                    JOIN $sh b ON b.${k.id} = c.${k.b} AND b.shingle = a.shingle
    GROUP BY 1, 2
)""" + scoredCtes(p, sh, k, minJaccard)
  }
}
