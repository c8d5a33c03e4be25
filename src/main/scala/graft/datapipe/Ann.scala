package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Ckpt._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (vec_id, embedding: array<float>, label).
  *
  *  - [[bruteTopKDot]]: exact top-k by inner product, integer-quantized
  *    (floor(x*1000)) so Spark and the DuckDB oracle agree bit-for-bit —
  *    float dot products differ in last-ulp across engines and would flip
  *    near-tie rankings.
  *  - [[bruteTopKCosine]]: true float cosine via zip_with/aggregate HOFs
  *    (codegen'd, no UDF) — the correctness baseline for the IVF path.
  *  - [[ivfTopK]]: the scale path — coarse IVF quantization by
  *    [[ivfAssign]] (seed centroids = the first vectors by vec_id, refined
  *    by a given number of Lloyd iterations), probing only the query's
  *    cell. At 100 TB the cell assignment is a broadcast join + one shuffle
  *    by cell id, and probing touches 1/nCentroids of the data.
  *    [[ivfRecall]] measures it against the exact top-k.
  */
object Ann {
  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}

  // native codegen'd fold (graft.functions.DotQuant): floor over DOUBLE on
  // both engines — float*1000 computed in float vs double can floor to
  // different integers near boundaries, so widen first. Replaces the
  // interpreted zip_with/aggregate HOF (bit-identical sequential fold).
  private def dotInt(a: String, b: String) =
    toCol(graft.functions.DotQuant(toExpr(col(a)), toExpr(col(b))))

  // native codegen'd cosine (graft.functions.CosineSim) — IEEE-identical to
  // the struct-fold HOF it replaces: xy/(sqrt(xx)*sqrt(yy)) over a
  // sequential double accumulation in element order.
  private def cosine(a: String, b: String) =
    toCol(graft.functions.CosineSim(toExpr(col(a)), toExpr(col(b))))

  import org.apache.spark.sql.Column

  val NodeDim = 64

  /** Deterministic node-content embedding — the sandbox stand-in for the
    * reference's node embedder (ast/src/lang/embedding.rs:88-110; no model
    * runtime ships in this container). dim-64 float32 vector derived from
    * md5(node_key|body): content-sensitive, reproducible bit-for-bit in the
    * DuckDB oracle (ascii/substr over the same md5 hex, double divide, then
    * float32 cast — matching Spark's double-division-then-float path). A
    * deployment swaps this single expression for a model call batched by
    * [[Backfill.backfill]]'s partition-local loop.
    */
  def nodeEmbedding(nodeKey: Column, body: Column): Column = {
    val h = md5(concat(nodeKey, lit("|"), body))
    array((0 until NodeDim).map { i =>
      ((ascii(substring(h, 1 + ((i * 7 + 3) % 32), 1)) * lit(i + 1) % lit(101))
        .cast("double") / lit(101.0d)).cast("float")
    }: _*)
  }

  /** The node-embedding table (node_key, embedding) — the output of the
    * backfill pass at 100 TB. Materialize ONCE per session and feed every
    * vector consumer ([[nodeVectorSearchOver]], hybrid fusion): the md5
    * derivation re-reads every node body, so recomputing it per query pays
    * a full body scan each time (three embedding consumers in the query
    * suite did exactly that before round 4).
    */
  def nodeEmbeddings(nodes: DataFrame): DataFrame =
    nodes.select(
      col("node_key"),
      nodeEmbedding(col("node_key"), col("body")).as("embedding"))

  /** An embedding as one comparable scalar: md5 of its components on the
    * floor(x*1e6) integer grid, comma-joined. The grid is integer-exact on
    * both engines, so a checked query returns this hash instead of the raw
    * array column, which the driver's comparer cannot sort.
    * [[graft.Oracles.embHashSql]] is the DuckDB twin.
    */
  def embeddingHash(e: Column): Column =
    md5(
      array_join(
        transform(e, x => floor(x.cast("double") * 1000000).cast("bigint").cast("string")),
        ","
      ).cast("binary"))

  /** G4 twin over NODE vectors (the reference queries node embeddings
    * directly, queries.ts:549-581): cosine of every node's embedding in a
    * PRE-materialized table ([[nodeEmbeddings]]) against one query node's,
    * top-k — same broadcast-single-row cross join shape as [[vectorSearch]].
    */
  def nodeVectorSearchOver(emb: DataFrame, queryKey: String, threshold: Double, k: Int): DataFrame = {
    val q = emb.where(col("node_key") === queryKey).select(col("embedding").as("qv"))
    emb
      .where(col("node_key") =!= queryKey)
      .crossJoin(broadcast(q))
      .withColumn("cos", cosine("qv", "embedding"))
      .where(col("cos") >= threshold)
      .select(col("node_key"), col("cos"))
      .orderBy(col("cos").desc, col("node_key"))
      .limit(k)
  }

  /** Exact top-k per query vector by quantized inner product; queries =
    * vec_id < nQueries. Deterministic tie-break (score desc, vec_id asc).
    */
  def bruteTopKDot(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = q
      .crossJoin(emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv")))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("score", dotInt("qv", "cv"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** Exact top-k per query by float cosine (HOF pipeline, no UDF). */
  def bruteTopKCosine(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = q
      .crossJoin(emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv")))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine("qv", "cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "cand_id", "cos", "rank")
  }

  /** G4 vector search (mcp/src/graph/queries.ts:549-581): all candidates
    * with cosine ≥ `threshold` (reference constant 0.4) against ONE query
    * vector, top-k by (cosine desc, vec_id). The single-row query side is a
    * broadcast cross join — a scan, a codegen'd HOF, and a TakeOrdered.
    */
  def vectorSearch(emb: DataFrame, queryId: Long, threshold: Double, k: Int): DataFrame = {
    val q = emb
      .where(col("vec_id") === queryId)
      .select(col("embedding").as("qv"))
    emb
      .where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", cosine("qv", "embedding"))
      .where(col("cos") >= threshold)
      .select(col("vec_id").as("cand_id"), col("label"), col("cos"))
      .orderBy(col("cos").desc, col("cand_id"))
      .limit(k)
  }

  /** IVF coarse quantizer: (vec_id, embedding, cell), every vector
    * assigned to its max-inner-product centroid. The centroids start as the
    * first `nCentroids` vectors by vec_id; `iters` Lloyd (k-means)
    * iterations refine them, and `iters = 0` is the untrained seed
    * quantizer. Shared by [[ivfTopK]] and [[embeddingNearDupPairs]].
    *
    * Measured on the driver's synthetic embedding table (near-uniform, the
    * hardest case for k-means), 2 iterations tighten cell balance (max
    * cell 142→130 at sf0.001, 539→512 at sf0.1, the property that bounds
    * worst-cell probe cost at scale) while single-probe recall@5 moves
    * −0.08/−0.10/+0.03 against the seed quantizer across sf0.001/0.01/0.1:
    * the classic balance-vs-recall trade, reported by the recall entries
    * rather than assumed. On clustered real embeddings the trained
    * centroids are where the recall comes from.
    *
    * Cross-engine exactness is the design constraint: every quantity is
    * integer. Vectors sit on the floor(x*1000) grid [[bruteTopKDot]] uses; a
    * centroid is the exact rational (Σ vi, n), an int64 numerator array over
    * the member count (a seed centroid is (vi, 1)); the argmax compares
    * CAST(dot AS DOUBLE)/den, an int64-ratio division both engines round
    * identically under IEEE, with a centroid-id tie-break. So the
    * assignment is oracle-checkable row for row. Empty cells drop out on
    * both sides identically.
    *
    * Scale shape per iteration: centroids broadcast (nCentroids × dim
    * int64s), assignment is a scan + per-row argmax, and the update is a
    * posexplode + map-side-combined (cell, dim) sum — one narrow shuffle of
    * nCentroids×dim rows. The iteration count is fixed and small, exactly
    * like the pagerank loop.
    */
  def ivfAssign(emb: DataFrame, nCentroids: Int, iters: Int): DataFrame = {
    val vint = emb.select(
      col("vec_id"),
      col("embedding"),
      transform(col("embedding"), x => floor(x.cast("double") * 1000).cast("long")).as("vi"))
    def assign(cents: DataFrame): DataFrame = vint
      .crossJoin(broadcast(cents))
      .withColumn(
        "dot",
        aggregate(zip_with(col("vi"), col("num"), (a, b) => a * b), lit(0L), (acc, x) => acc + x))
      .withColumn(
        "rn",
        row_number().over(
          Window
            .partitionBy("vec_id")
            .orderBy(
              (col("dot").cast("double") / col("den").cast("double")).desc,
              col("centroid_id"))))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("vi"), col("centroid_id").as("cell"))
    var cents = vint
      .where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("centroid_id"), col("vi").as("num"), lit(1L).as("den"))
    (1 to iters).foreach { _ =>
      val a = assign(cents)
      val sums = a
        .select(col("cell"), posexplode(col("vi")))
        .withColumnRenamed("pos", "j")
        .withColumnRenamed("col", "v")
        .groupBy("cell", "j")
        .agg(sum("v").as("s"))
        .groupBy("cell")
        .agg(
          transform(array_sort(collect_list(struct(col("j"), col("s")))), e => e.getField("s"))
            .as("num"))
      val dens = a.groupBy("cell").agg(count(lit(1)).as("den"))
      cents = sums
        .join(dens, Seq("cell"))
        .select(col("cell").as("centroid_id"), col("num"), col("den"))
        .localCheckpoint() // truncate iteration lineage (nCentroids rows)
    }
    assign(cents).select("vec_id", "embedding", "cell")
  }

  /** IVF top-k: (query_id, cell, cand_id, score, rank) for the queries
    * vec_id < `nQueries`, each probing only its own cell of the
    * [[ivfAssign]] quantizer trained for `iters` iterations. Deterministic
    * tie-break (score desc, cand_id asc).
    */
  def ivfTopK(emb: DataFrame, nCentroids: Int, nQueries: Int, k: Int, iters: Int): DataFrame = {
    // read twice (queries, candidates): a lazy checkpoint lives exactly as
    // long as the result, and the ContextCleaner frees it after
    val assigned = ivfAssign(emb, nCentroids, iters).lcp(eager = false)
    val q = assigned
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("cell"))
    val scored = q
      .join(
        assigned.select(col("vec_id").as("cand_id"), col("embedding").as("cv"), col("cell")),
        Seq("cell"))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("score", dotInt("qv", "cv"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "cell", "cand_id", "score", "rank")
  }

  /** Recall@k of [[ivfTopK]] against the exact [[bruteTopKDot]]: (query_id,
    * k, hits, recall), the measured single-probe approximation quality.
    */
  def ivfRecall(emb: DataFrame, nCentroids: Int, nQueries: Int, k: Int, iters: Int): DataFrame =
    bruteTopKDot(emb, nQueries, k).select("query_id", "cand_id")
      .join(
        ivfTopK(emb, nCentroids, nQueries, k, iters).select("query_id", "cand_id")
          .withColumn("hit", lit(1L)),
        Seq("query_id", "cand_id"),
        "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"), coalesce(sum("hit"), lit(0L)).as("hits"))
      .withColumn("recall", col("hits").cast("double") / col("k").cast("double"))

  /** Embedding-cosine near-duplicate pairs — the vector-space member of the
    * dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard live in
    * [[DocDedup]]): all (a < b) pairs whose cosine clears `threshold`,
    * blocked by the untrained IVF cell so the self-join is CELL-LOCAL — the
    * bucketed 100 TB shape (a brute all-pairs self-join is |V|² and never
    * runs). Same blocking-recall trade as the LSH path: cross-cell near-dups
    * are missed by design and the cell count tunes it.
    */
  def embeddingNearDupPairs(emb: DataFrame, nCentroids: Int, threshold: Double): DataFrame = {
    val assigned = ivfAssign(emb, nCentroids, iters = 0)
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"), col("embedding").as("av"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"), col("embedding").as("bv"))
    a.join(b, Seq("cell"))
      .where(col("a_id") < col("b_id"))
      .withColumn("cos", cosine("av", "bv"))
      .where(col("cos") >= threshold)
      .select("cell", "a_id", "b_id", "cos")
  }
}
