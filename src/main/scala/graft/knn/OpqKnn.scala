package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.IndexCache

/** OPQ — product quantization behind a data-dependent ROTATION
  * (parametric OPQ with eigenvalue allocation, Ge et al., "Optimized
  * Product Quantization", CVPR 2013). Plain [[PqKnn]] quantizes the
  * raw coordinate blocks, so correlated dimensions land in the same
  * subspace and waste code entropy; OPQ first rotates into the
  * covariance eigenbasis and then ASSIGNS principal dimensions to
  * subspaces so the products of eigenvalues (subspace variances)
  * balance — each codebook models an equally hard marginal. The
  * reference has no quantized family at all (extension surface, like
  * the rest of the knn package).
  *
  * Composition over existing substrates, nothing re-derived:
  * covariance + Jacobi eigensolve from [[graft.operators.EmbeddingStats]]
  * (one distributed pass + a 64×64 driver solve), rotation applied by
  * [[RandomProjection.project]] (map-only, matrix broadcast), training/
  * encoding/ADC scan from [[PqKnn]] verbatim. The coarse scan runs on
  * ROTATED queries against rotated codebooks; [[TwoStage.search]]
  * re-ranks in the ORIGINAL space (cosine is rotation-invariant), so
  * the exact leg stays bit-identical to every other family's.
  *
  * Scale notes: identical to [[PqKnn]] — the rotation adds one
  * broadcast d×d matrix and one map-only projection pass; codes stay
  * 64× compressed; no extra shuffle anywhere.
  */
object OpqKnn {

  /** The d×d rotation (rows = permuted covariance eigenvectors,
    * bucket-major): dims are assigned greedily in descending-eigenvalue
    * order to the subspace with the smallest log-eigenvalue sum that
    * still has a free slot — the balanced-variance allocation.
    * Orthonormal by construction (Jacobi's V is orthonormal; rows are
    * a permutation of its columns). Memoized per dataset.
    */
  def rotation(spark: SparkSession, dir: String,
      m: Int = 8): Array[Array[Double]] =
    IndexCache.getOrBuild(spark, "opq-rot", dir, m) {
      import spark.implicits._
      val (base, _, _, _) = ExactKnn.split(spark, dir)
      val vecs = base.select(col("emb").cast("array<double>"))
        .as[Seq[Double]]
      val (_, cov) = graft.operators.EmbeddingStats.covariance(vecs)
      val (eigs, v) = graft.operators.EmbeddingStats.jacobiEigen(cov)
      val d = cov.length
      require(d % m == 0, s"dim $d not divisible by m=$m")
      val sd = d / m
      val order = eigs.zipWithIndex
        .sortBy { case (e, i) => (-e, i) }.map(_._2)
      val bucketLog = Array.fill(m)(0.0)
      val buckets = Array.fill(m)(
        scala.collection.mutable.ArrayBuffer.empty[Int])
      order.foreach { dimIdx =>
        val j = (0 until m).filter(buckets(_).size < sd)
          .minBy(b => (bucketLog(b), b))
        buckets(j) += dimIdx
        bucketLog(j) += math.log(math.max(eigs(dimIdx), 1e-300))
      }
      buckets.flatten.map(c => Array.tabulate(d)(r => v(r)(c))).toArray
    }

  /** `df`'s (vec_id, emb) rows rotated by `rot`, still (vec_id, emb). */
  private def rotate(df: DataFrame, rot: Array[Array[Double]]): DataFrame =
    RandomProjection.project(df, rot)
      .select(col("vec_id"), col("pvec").as("emb"))

  /** The per-dataset rotated (codebooks, persisted codes) pair —
    * shared by the search paths and the distortion report.
    */
  private[knn] def cachedIndex(spark: SparkSession, dir: String,
      m: Int = 8, ksub: Int = 256): (PqKnn.PqCodebooks, DataFrame) = {
    val (base, _, _, _) = ExactKnn.split(spark, dir)
    lazy val rBase = rotate(base, rotation(spark, dir, m))
    val b = IndexCache.getOrBuild(spark, "opq", dir, m, ksub)(
      PqKnn.trainCodebooks(rBase, m, ksub))
    (b, IndexCache.persisted(spark, "opq", dir, m, ksub, "codes")(
      PqKnn.encode(rBase, b)))
  }

  /** Top-k per held-out query: rotate → ADC-coarse-scan (rotated
    * codebooks) → [[TwoStage.search]] in the original space. Output:
    * (qid, vec_id, dist rounded 6, rk) — the family-standard shape.
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      m: Int = 8, ksub: Int = 256, overfetch: Int = 16): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val (cb, codes) = cachedIndex(spark, dir, m, ksub)
    TwoStage.search(
      PqKnn.adcScan(cb, codes, rotate(queries, rotation(spark, dir, m))),
      k, overfetch, base, queries)
  }

  /** Quantization-distortion report: mean squared reconstruction error
    * of the PQ and OPQ code tables against the (normalized) vectors
    * they encode — THE number that justifies the rotation: OPQ exists
    * to lower exactly this, and on anisotropic data it does. Each
    * family decodes its codes through its own codebooks (OPQ in the
    * rotated space, where its vectors live) and averages the squared
    * error, micro-quantized per vector before the sum (order-free).
    *
    * Scale shape: two map-only passes over the code tables with the
    * codebooks broadcast — reconstruction never shuffles. Output:
    * (family, n_vectors, mse), 2 rows, literal-pinned (both trainings
    * are deterministic).
    */
  def quantizationDistortion(spark: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val (base, _, _, _) = ExactKnn.split(spark, dir)

    def mseOf(family: String, vecs: org.apache.spark.sql.DataFrame,
        cb: PqKnn.PqCodebooks,
        enc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val joined = vecs.select(col("vec_id"), col("emb"))
        .join(enc, "vec_id")
      val bc = spark.sparkContext.broadcast(cb)
      val err6 = joined.select(col("emb"), col("codes"))
        .as[(Array[Double], Array[Byte])]
        .mapPartitions { it =>
          val b = bc.value
          val sd = b.dim / b.m
          it.map { case (v, codes) =>
            // reconstruct = concat of the coded centroids; error vs the
            // NORMALIZED vector (what encode() actually quantized)
            var s = 0.0
            var norm = 0.0
            var i = 0
            while (i < v.length) { norm += v(i) * v(i); i += 1 }
            val mag = math.sqrt(norm)
            var j = 0
            while (j < b.m) {
              val c = b.books(j)(codes(j) & 0xff)
              var t = 0
              while (t < sd) {
                val x = (if (mag == 0.0) v(j * sd + t)
                  else v(j * sd + t) / mag) - c(t)
                s += x * x
                t += 1
              }
              j += 1
            }
            BigDecimal(s * 1e9)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          }
        }.toDF("e9")
      err6.agg(count(lit(1)).as("n_vectors"), sum(col("e9")).as("s9"))
        .select(lit(family).as("family"),
          col("n_vectors").cast("long").as("n_vectors"),
          round(col("s9").cast("double") / col("n_vectors") / 1e9, 6)
            .as("mse"))
    }

    val (pqCb, pqCodes) = PqKnn.cachedIndex(spark, dir)
    val (opqCb, opqCodes) = cachedIndex(spark, dir)
    mseOf("pq", base, pqCb, pqCodes)
      .unionAll(mseOf("opq", rotate(base, rotation(spark, dir)), opqCb,
        opqCodes))
  }

  /** Declared OPQ LIFECYCLE (train rotation + codebooks → save → load
    * → search): the model is (rotation, codebooks), the table the
    * rotated codes, through [[IndexFiles.reloaded]]. Bit-equal to
    * [[topKBatch]] by construction (same scan body over the reloaded
    * artifacts); OpqKnnSpec pins the equality and the declared row
    * shares knn_opq_batch's literal oracle.
    */
  def topKBatchLifecycle(spark: SparkSession, dir: String, k: Int = 10,
      m: Int = 8, ksub: Int = 256, overfetch: Int = 16): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val ((rot, cb), codes) = IndexFiles.reloaded(spark, "opq", dir, m, ksub) {
      val (cb, codes) = cachedIndex(spark, dir, m, ksub)
      ((rotation(spark, dir, m), cb), codes)
    }
    TwoStage.search(PqKnn.adcScan(cb, codes, rotate(queries, rot)),
      k, overfetch, base, queries)
  }
}
