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
  *   - Everything downstream (projected scan, bounded-heap candidate
  *     mining, exact re-rank of queries × k·overfetch rows) reuses the
  *     [[RandomProjection]] machinery unchanged.
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

  /** Top-k per held-out query through the PCA basis: projected-space
    * candidate mining (k·overfetch) + exact re-rank — identical plan
    * shape to [[RandomProjection.topKBatch]], only the matrix differs.
    * Output: (qid, vec_id, dist, rk).
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      outDim: Int = 32, overfetch: Int = 16): DataFrame = {
    val matrix = basis(spark, dir, outDim)
    search(spark, dir, matrix, memoProjected(spark, dir, outDim), k, overfetch)
  }

  /** The base split projected through [[basis]], persisted once per
    * (dataset, outDim) — the one build site batch and lifecycle share.
    */
  private def memoProjected(spark: SparkSession, dir: String,
      outDim: Int): DataFrame =
    IndexCache.persisted(spark, "pca", dir, outDim)(RandomProjection.project(
      ExactKnn.split(spark, dir)._1, basis(spark, dir, outDim)))

  /** Shared mine + re-rank body: projected-space bounded-heap candidate
    * mining, then exact re-rank of queries × k·overfetch rows.
    */
  private def search(spark: SparkSession, dir: String,
      matrix: Array[Array[Double]], pBase: DataFrame, k: Int,
      overfetch: Int): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val pq = broadcast(RandomProjection.project(queries, matrix)
      .select(col("vec_id").as("qid"), col("pvec").as("qpvec")))

    val cand = graft.plans.GraftOps.topKPerGroup(
      pBase.crossJoin(pq)
        .select(col("qid"), col("vec_id"),
          round(graft.functions.ArrayMath.cosineDistance(
            col("pvec"), col("qpvec")), 6).as("pdist")),
      Seq("qid"), Seq("pdist" -> true, "vec_id" -> true), k * overfetch)

    val q = broadcast(queries.select(col("vec_id").as("qid"), col("emb").as("qvec")))
    val rescored = cand.select("qid", "vec_id")
      .join(base, "vec_id")
      .join(q, "qid")
      .select(col("qid"), col("vec_id"),
        ExactKnn.dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(rescored, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** Persist the trained basis (driver-tiny rows) and the projected
    * base table — index publication, same split as the PQ checkpoint
    * (codebook-like metadata small and single-file, codes distributed).
    */
  def saveIndex(matrix: Array[Array[Double]], pBase: DataFrame,
      path: String): Unit = {
    val spark = pBase.sparkSession
    import spark.implicits._
    matrix.zipWithIndex.map { case (row, r) => (r, row.toSeq) }.toSeq
      .toDF("r", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/basis")
    pBase.write.mode("overwrite").parquet(s"$path/projected")
  }

  /** Reload a [[saveIndex]] checkpoint: basis rows driver-side (outDim
    * small), the projected table stays distributed.
    */
  def loadIndex(spark: SparkSession, path: String)
      : (Array[Array[Double]], DataFrame) = {
    import spark.implicits._
    val m = spark.read.parquet(s"$path/basis").as[(Int, Seq[Double])]
      .collect().sortBy(_._1).map(_._2.toArray)
    (m, spark.read.parquet(s"$path/projected"))
  }

  /** Declared PCA LIFECYCLE (train → save → load → search), extending
    * the checkpoint surface to the projection family. Bit-equal to
    * [[topKBatch]] by construction (same [[search]] body over the
    * reloaded basis/projection); PcaKnnSpec pins the equality. The save
    * is memoized per dataset and charged to bench_build_pca_ckpt, so
    * this query times load + probe.
    */
  def topKBatchLifecycle(spark: SparkSession, dir: String, k: Int = 10,
      outDim: Int = 32, overfetch: Int = 16): DataFrame = {
    val path = IndexCache.getOrBuild(spark, "pca-ckpt", dir, outDim) {
      val p = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
        s"/graft-pca-lifecycle-${Integer.toHexString(dir.hashCode)}-$outDim"
      saveIndex(basis(spark, dir, outDim), memoProjected(spark, dir, outDim), p)
      p
    }
    val (matrix, p0) = IndexCache.getOrBuild(spark, "pca-reloaded", dir,
      outDim)(loadIndex(spark, path))
    val pBase = IndexCache.persisted(spark, "pca-reloaded", dir, outDim,
      "projected")(p0)
    search(spark, dir, matrix, pBase, k, overfetch)
  }
}
