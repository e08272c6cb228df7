package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.IndexCache

/** PCA-projected approximate kNN — the DATA-DEPENDENT twin of
  * [[RandomProjection]]: instead of a seeded Gaussian matrix, project
  * through the top eigenvectors of the base vectors' own covariance
  * (computed by the one-pass distributed moment aggregation of
  * [[graft.operators.EmbeddingStats.covariance]] + the driver-side
  * Jacobi eigensolve), mine candidates with the cheap projected
  * distance, then re-rank exactly. On anisotropic real-world
  * embeddings the PCA basis packs the neighbor-discriminating variance
  * into the kept dimensions, so the same reduction needs less
  * overfetch than an oblivious JL matrix; on this near-isotropic
  * fixture the two families measure alike, which the spec's recall
  * gate documents honestly.
  *
  * Scale notes (100 TB thinking):
  *   - Training the basis is ONE pass over the base vectors with
  *     d + d² doubles of state per partition and a 64×64 driver
  *     eigensolve — no shuffle, no iteration, corpus-size-independent
  *     driver state. The basis is then broadcast like any projection.
  *   - Everything downstream is RandomProjection's plan: the
  *     projection, then [[TwoStage.cosineScan]] and [[TwoStage.search]]
  *     (bounded-heap cut, exact re-rank of queries × k·overfetch rows).
  */
object PcaKnn {

  /** Top-`outDim` covariance eigenvectors of the BASE split as a
    * projection matrix (outDim × dim rows), memoized per dataset.
    */
  def basis(spark: SparkSession, dir: String, outDim: Int = 32): Array[Array[Double]] =
    IndexCache.getOrBuild(spark, "pca-basis", dir, outDim) {
      import spark.implicits._
      val (base, _, _, _) = ExactKnn.split(spark, dir)
      val vecs = base.select(col("emb").cast("array<double>")).as[Seq[Double]]
      val (_, cov) = graft.operators.EmbeddingStats.covariance(vecs)
      val (eigs, v) = graft.operators.EmbeddingStats.jacobiEigen(cov)
      val d = cov.length
      val order = eigs.zipWithIndex.sortBy(-_._1).map(_._2).take(outDim)
      // rows of the projection matrix = leading eigenvectors (V columns)
      order.map(c => Array.tabulate(d)(r => v(r)(c))).toArray
    }

  /** Top-k per held-out query through the PCA basis: the projected
    * [[TwoStage.cosineScan]], cut and exactly re-ranked by
    * [[TwoStage.search]] — the plan of [[RandomProjection.topKBatch]],
    * only the matrix differs. Output: (qid, vec_id, dist, rk).
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      outDim: Int = 32, overfetch: Int = 16): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val pQueries = RandomProjection.project(queries, basis(spark, dir, outDim))
    TwoStage.search(TwoStage.cosineScan(memoProjected(spark, dir, outDim),
      pQueries), k, overfetch, base, queries)
  }

  /** The base split projected through [[basis]], persisted once per
    * (dataset, outDim) — the one build site batch and lifecycle share.
    */
  private def memoProjected(spark: SparkSession, dir: String,
      outDim: Int): DataFrame =
    IndexCache.persisted(spark, "pca", dir, outDim)(RandomProjection.project(
      ExactKnn.split(spark, dir)._1, basis(spark, dir, outDim)))

  /** Declared PCA LIFECYCLE (train → save → load → search): the basis
    * and the projected base go through [[IndexFiles.reloaded]], and the
    * scan reads the reloaded table through. Bit-equal to [[topKBatch]]
    * by construction (same scan and [[TwoStage.search]]); PcaKnnSpec
    * pins the equality. The save is charged to bench_build_pca_ckpt.
    */
  def topKBatchLifecycle(spark: SparkSession, dir: String, k: Int = 10,
      outDim: Int = 32, overfetch: Int = 16): DataFrame = {
    val (matrix, pBase) = IndexFiles.reloaded(spark, "pca", dir, outDim)(
      (basis(spark, dir, outDim), memoProjected(spark, dir, outDim)))
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    TwoStage.search(TwoStage.cosineScan(pBase,
      RandomProjection.project(queries, matrix)), k, overfetch, base, queries)
  }
}
