package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Vamana (DiskANN-family) ANN: the flat α-pruned graph
  * inside each shard of the [[ShardedKnn]] harness (ShardedIndex.scala)
  * that HNSW runs on. Same co-sharding rule (vec_id mod shards), same
  * fixed partition placement, same search legs — only the per-partition
  * index differs, so a graph family costs one [[ShardGraph]] class and
  * this object.
  *
  * Scale notes: Vamana is the disk-native family — ONE flat adjacency
  * per node means a shard graph serializes to a contiguous block and
  * a 100 TB deployment pages neighborhoods off NVMe instead of
  * holding layers in RAM (the DiskANN paper's operating point). The
  * checkpoint written by [[saveIndex]] is that layout as a parquet
  * blob table.
  */
object VamanaKnn extends ShardedKnn[VamanaIndex]("vamana",
    _ => new VamanaIndex()) {

  /** `insert_many` into a BUILT Vamana index, then search: graphs
    * build on the first 90% prefix, the 90-95% slab arrives through
    * [[insertIntoIndex]] (the α-pass insert IS the build step), and the
    * held-out queries search the grown graphs — the mutation path on
    * the flat-graph family, literal-pinned (deterministic) with a recall
    * gate against the exact after-insert ground truth in VamanaKnnSpec.
    * Only the grown index is cached: the head-only build is never
    * persisted, and the insert reads its graphs without placing them.
    */
  def topKAfterInsert(spark: SparkSession, dir: String, k: Int = 10,
      nq: Int = 20, ef: Int = 100, shards: Int = 16): DataFrame = {
    import graft.functions.VectorFunctions.toDoubleArray
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("emb"))
    // build/insert/query slabs below slice by id percentile — assert
    // the dense-id invariant they assume (r6 advice item; one job)
    val stats = emb.agg(count(col("vec_id")), min(col("vec_id")),
      max(col("vec_id"))).head()
    val n = stats.getLong(0)
    require(n == 0 || (stats.getLong(1) == 0L && stats.getLong(2) == n - 1),
      s"vec_id must be dense 0..${n - 1}, got " +
        s"[${stats.getLong(1)}, ${stats.getLong(2)}]")
    val s90 = math.round(0.90 * n)
    val s95 = math.round(0.95 * n)
    val index = memo(spark, "vamana-ins", dir, shards)(insertIntoIndex(
      buildIndex(emb.filter(col("vec_id") < s90), shards),
      emb.filter(col("vec_id") >= s90 && col("vec_id") < s95)))
    val queries = emb.filter(col("vec_id") >= s95 && col("vec_id") < s95 + nq)
    searchIndex(index, queries, k, ef)
  }
}
