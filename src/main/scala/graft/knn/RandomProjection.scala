package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.IndexCache

/** Random-projection (Johnson-Lindenstrauss) approximate kNN — the
  * third ANN family next to graph-based [[HnswKnn]] and cluster-pruned
  * [[IvfKnn]]: project embeddings through a seeded Gaussian matrix to a
  * low dimension, mine top-(k·overfetch) candidates with the cheap
  * projected distance, then re-rank the candidates exactly
  * ([[TwoStage]]).
  *
  * Scale notes (100 TB thinking):
  *   - The projected table is dim/outDim smaller than the base — at
  *     scale it is the thing you persist and scan, cutting candidate
  *     mining IO and FLOPs by that factor (default 64 -> 32 = 2x).
  *   - The projection matrix is driver-tiny and broadcast; projection
  *     is map-only (one tight JVM loop per row, no shuffle).
  *   - Re-ranking touches only (queries x k·overfetch) full vectors —
  *     a broadcast-join-sized set, never the base table.
  *   - Deterministic end to end: seeded matrix, distances rounded to
  *     6dp before ranking, vec_id tie-break (SURVEY.md §7.4).
  */
object RandomProjection {

  /** Seeded dense Gaussian projection matrix (outDim x dim), scaled by
    * 1/sqrt(outDim) (the JL convention; scaling cancels in cosine).
    */
  def projectionMatrix(dim: Int, outDim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(outDim)(Array.fill(dim)(rng.nextGaussian() / math.sqrt(outDim)))
  }

  /** (vec_id, pvec) — the projected table (map-only typed projection). */
  def project(df: DataFrame, matrix: Array[Array[Double]]): DataFrame = {
    import df.sparkSession.implicits._
    val bc = df.sparkSession.sparkContext.broadcast(matrix)
    df.select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, v) =>
          val out = new Array[Double](m.length)
          var r = 0
          while (r < m.length) {
            val row = m(r)
            var s = 0.0
            var i = 0
            val n = math.min(row.length, v.length)
            while (i < n) { s += row(i) * v(i); i += 1 }
            out(r) = s
            r += 1
          }
          (id, out)
        }
      }.toDF("vec_id", "pvec")
  }

  /** Top-k per held-out query: the projected-space
    * [[TwoStage.cosineScan]], cut and exactly re-ranked by
    * [[TwoStage.search]]. Output: (qid, vec_id, dist, rk) —
    * same shape as [[ExactKnn.topKBatch]] for recall evaluation.
    *
    * Default overfetch is high (16x) because the fixture embeddings are
    * near-random: neighbor margins are tiny, so projected rankings
    * scramble easily (same geometry that forces IvfKnn's wide nprobe).
    * The candidate FRACTION k·overfetch/n still vanishes as n grows —
    * on a real clustered corpus a 4x overfetch at this reduction is
    * typical.
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      outDim: Int = 32, overfetch: Int = 16, seed: Long = 20260812L): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val dim = base.select(size(col("emb"))).head.getInt(0)
    val matrix = projectionMatrix(dim, outDim, seed)

    // the projected table is the scan target: materialized once
    val pBase = IndexCache.persisted(spark, "rp", dir, outDim, seed)(
      project(base, matrix))
    TwoStage.search(TwoStage.cosineScan(pBase, project(queries, matrix)),
      k, overfetch, base, queries)
  }
}
