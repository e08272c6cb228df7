package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed approximate kNN: the sharded-HNSW formulation of the
  * reference's single-process index (`src/hnsw.rs:304-327`) on the
  * [[ShardedKnn]] harness — each shard's [[HnswIndex]] is seeded
  * `42 + shard`, so the graphs are bit-reproducible run to run. Beyond
  * the harness's build / insert / save / load / search and the batch
  * and lifecycle rows, HNSW adds filtered and single-query search and
  * per-shard graph stats.
  */
object HnswKnn extends ShardedKnn[HnswIndex]("hnsw",
    s => new HnswIndex(seed = 42L + s)) {

  /** The HNSW shard index. */
  type HnswDistIndex = ShardedIndex[HnswIndex]

  /** Filtered ANN (predicate + vector) on the SHARED shard graphs —
    * the index-path sibling of [[ExactKnn.topKBatchFiltered]]: search
    * the unfiltered graphs with `k × overfetch` candidates per query
    * (post-filtering is the general strategy — it reuses one index for
    * every predicate; a per-predicate-value index gives unfiltered
    * recall but only for predicates known at build time), semi-join the
    * label predicate on the candidate ids (ids only — no vectors), and
    * keep the top k survivors. Output: (qid, vec_id, dist, rk), same
    * shape as the exact filtered scan; recall against it is gated in
    * HnswSpec. More selective predicates want a larger `overfetch` —
    * the standard post-filter trade.
    */
  def topKBatchFiltered(spark: SparkSession, dir: String, label: Int = 3,
      k: Int = 10, ef: Int = 256, shards: Int = 16, overfetch: Int = 16,
      nq: Int = 50): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val n = emb.count()
    val splitAt = math.round(0.95 * n)
    val queries = emb
      .filter(col("vec_id") >= splitAt && col("vec_id") < splitAt + nq)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("emb"))
    val index = memoIndex(spark, dir, shards)
    val cand = searchIndex(index, queries, k * overfetch, math.max(ef, k * overfetch))
    val allowed = emb
      .filter(col("label") === label && col("vec_id") < splitAt)
      .select(col("vec_id"))
    graft.plans.GraftOps.topKPerGroup(
      cand.join(allowed, Seq("vec_id"), "left_semi")
        .select(col("qid"), col("vec_id"), col("dist")),
      Seq("qid"), Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** Single-query form (the reference's `query[29]` search,
    * `/root/reference/src/main.rs:85-87`). Output: (vec_id, dist) asc.
    *
    * The qid filter lands on the QUERY side BEFORE the shard search —
    * one query replicated to the shard graphs, not a batch search
    * filtered after the fact (per-query searches are independent, so
    * this is bit-equal to filtering [[topKBatch]]'s output; measured 3×
    * faster at sf0.1 and the gap grows with the query-split size).
    */
  def topKSingle(spark: SparkSession, dir: String, k: Int = 10,
      ef: Int = 100, queryIdx: Long = 29, shards: Int = 16): DataFrame = {
    val (_, queries, splitAt, n) = ExactKnn.split(spark, dir)
    val qid = splitAt + (queryIdx % (n - splitAt))
    val index = memoIndex(spark, dir, shards)
    searchIndex(index, queries.filter(col("vec_id") === qid), k, ef)
      .select(col("vec_id"), col("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
  }

  /** Operational introspection of the (cached) shard graphs: one row
    * per shard — node count, highest assigned level, layer-0 and total
    * edge counts, layer-0 mean degree. The stats every real vector
    * store exposes for capacity planning and build validation
    * (degree bounds, level distribution, shard balance). Executor-side
    * map over the placed graphs; only |shards| stat rows move.
    */
  def indexStats(spark: SparkSession, dir: String,
      shards: Int = 16): DataFrame = {
    val index = memoIndex(spark, dir, shards)
    import spark.implicits._
    val rows = index.placed.map { case (sh, g) =>
      val (n, maxLvl, l0, tot) = g.stats
      (sh, n, maxLvl, l0, tot,
        if (n > 0) math.rint(l0.toDouble / n * 1e6) / 1e6 else 0.0)
    }
    spark.createDataset(rows).toDF("shard", "n_nodes", "max_level",
      "l0_edges", "total_edges", "l0_mean_degree")
  }
}
