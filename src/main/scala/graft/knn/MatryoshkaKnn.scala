package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Matryoshka-style truncated-dimension ANN: coarse-score every base
  * vector on the PREFIX of its coordinates (the way MRL-trained
  * embeddings pack the most information into the leading dimensions —
  * Kusupati et al. 2022, arXiv:2205.13147), then let [[TwoStage]] keep
  * `k × overfetch` candidates per query and re-rank just the survivors
  * with the full-dimension exact distance.
  *
  * Versus [[RandomProjection]]: same two-stage shape, but the coarse
  * space is a zero-cost array slice instead of a trained projection —
  * no matrix, no transform pass over the corpus, and the coarse scan
  * reads `coarseDim/dim` of the bytes (the scan-cost win at 100 TB;
  * with a column layout that stores prefixes together it is also a
  * proportional I/O win).
  *
  * Scale shape: identical to the other ANN families — the prefix
  * relation is built once per dataset (cached), the
  * [[TwoStage.cosineScan]] broadcasts the query prefixes, both top-k
  * passes are bounded heaps, and the re-rank join touches only
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
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    def prefix(df: DataFrame): DataFrame =
      df.select(col("vec_id"), slice(col("emb"), 1, coarseDim).as("pvec"))
    val cBase = graft.IndexCache.persisted(spark, "mrl", dir, coarseDim)(
      prefix(base))
    TwoStage.search(TwoStage.cosineScan(cBase, prefix(queries)), k,
      overfetch, base, queries)
  }
}
