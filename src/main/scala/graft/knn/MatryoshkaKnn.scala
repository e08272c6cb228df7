package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Matryoshka-style truncated-dimension ANN: coarse-score every base
  * vector on the PREFIX of its coordinates (the way MRL-trained
  * embeddings pack the most information into the leading dimensions —
  * Kusupati et al. 2022, arXiv:2205.13147), keep `k × overfetch`
  * candidates per query through the bounded heap, then re-rank just the
  * survivors with the full-dimension exact distance.
  *
  * Versus [[RandomProjection]]: same two-stage shape, but the coarse
  * space is a zero-cost array slice instead of a trained projection —
  * no matrix, no transform pass over the corpus, and the coarse scan
  * reads `coarseDim/dim` of the bytes (the scan-cost win at 100 TB;
  * with a column layout that stores prefixes together it is also a
  * proportional I/O win).
  *
  * Scale shape: identical to the other ANN families — the coarse
  * relation is built once per dataset (cached), queries broadcast, both
  * top-k passes are bounded heaps, and the re-rank join touches only
  * `queries × k × overfetch` rows.
  */
object MatryoshkaKnn {

  /** (qid, vec_id, dist rounded 6, rk) for every held-out query —
    * same shape as [[ExactKnn.topKBatch]], joinable for recall.
    *
    * Defaults (half the dimensions, 16× overfetch) match the
    * [[RandomProjection]] operating point: the fixture's embeddings are
    * NOT MRL-trained, so a prefix carries only its proportional share
    * of variance — with real Matryoshka embeddings the same recall
    * holds at much smaller `coarseDim`.
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      coarseDim: Int = 32, overfetch: Int = 16): DataFrame = {
    val (base0, queries, _, _) = ExactKnn.split(spark, dir)
    val base = graft.IndexCache.persisted(spark, "mrl", dir, coarseDim) {
      base0.select(col("vec_id"), col("emb"),
        slice(col("emb"), 1, coarseDim).as("cemb"))
    }
    val cq = broadcast(queries.select(col("vec_id").as("qid"),
      slice(col("emb"), 1, coarseDim).as("cq")))
    val cand = graft.plans.GraftOps.topKPerGroup(
      base.crossJoin(cq)
        .select(col("qid"), col("vec_id"),
          round(graft.functions.ArrayMath.cosineDistance(
            col("cemb"), col("cq")), 6).as("cdist")),
      Seq("qid"), Seq("cdist" -> true, "vec_id" -> true), k * overfetch)
      .select(col("qid"), col("vec_id"))
    val fq = broadcast(queries.select(col("vec_id").as("qid"),
      col("emb").as("qvec")))
    val rer = cand.join(base.select(col("vec_id"), col("emb")), "vec_id")
      .join(fq, "qid")
      .select(col("qid"), col("vec_id"),
        ExactKnn.dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(rer, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }
}
