package graft.knn

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Filter-and-refine top-k, written once for every compressed or
  * projected family (PQ, OPQ, SQ, IVF-PQ, BQ, RP, PCA, MRL): a cheap
  * coarse score ranks every (query, base row) pair, the `k·overfetch`
  * best per query survive, and [[ExactKnn.rerank]] scores only those
  * survivors with the engine's exact rounded distance — the
  * coarse-prune-then-refine shape of REPOSE (ICDE 2021). Approximation
  * error costs recall only when a true neighbor misses the cut, never
  * the precision of a reported distance.
  *
  * A family supplies only its coarse relation `(qid, vec_id, coarse)`,
  * from one of the two scans below or from its own plan (BQ's Hamming
  * cross join, IVF-PQ's probed ADC join).
  */
object TwoStage {

  /** The coarse cut: (qid, vec_id, rk), rk over (coarse asc, vec_id asc)
    * cut at `k·overfetch`. The heap runs in its single-phase form: the
    * two-phase form (a map-side prune before the qid shuffle) returns
    * the same rows but built IVF-PQ ~15% slower (sf0.1, 4 cores). A
    * shallower overfetch's candidates are exactly the rk-prefix of a
    * deeper one's (same keys, same ties), which is what lets the
    * overfetch sweep share one scan.
    */
  def candidates(scored: DataFrame, k: Int, overfetch: Int): DataFrame =
    graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("coarse" -> true, "vec_id" -> true), k * overfetch)
      .select("qid", "vec_id", "rk")

  /** [[candidates]] re-ranked exactly against `base` / `queries` (both
    * (vec_id, emb)). Output: (qid, vec_id, dist rounded 6, rk) — the
    * shape of [[ExactKnn.topKBatch]].
    */
  def search(scored: DataFrame, k: Int, overfetch: Int, base: DataFrame,
      queries: DataFrame): DataFrame =
    ExactKnn.rerank(candidates(scored, k, overfetch).select("qid", "vec_id"),
      base, queries, k)

  /** Coarse scan of a resident code table: query rows are replicated to
    * every code partition in one shuffle and zipPartitions streams them
    * past the partition's codes — task memory is one code partition plus
    * one in-flight query, and no query vector crosses the driver.
    * `score(qv)` runs once per (partition, query) and returns the
    * per-code scorer, so per-query state (PQ's lookup table) is built
    * once per partition, not per pair. Output: (qid, vec_id, coarse).
    */
  def replicatedScan[C](codes: RDD[(Long, C)], queries: DataFrame)(
      score: Array[Double] => C => Double): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val numP = codes.getNumPartitions
    val qrep = queries.select(col("vec_id"), col("emb"))
      .as[(Long, Array[Double])].rdd
      .flatMap(q => Iterator.range(0, numP).map(p => (p, q)))
      .partitionBy(new HashPartitioner(numP))
    val scored = codes.zipPartitions(qrep) { (cit, qit) =>
      val local = cit.toArray
      qit.flatMap { case (_, (qid, qv)) =>
        val f = score(qv)
        local.iterator.map { case (id, c) => (qid, id, f(c)) }
      }
    }
    spark.createDataset(scored).toDF("qid", "vec_id", "coarse")
  }

  /** Coarse scan in a reduced space: the rounded cosine distance between
    * every `coarseBase` row and every (broadcast) `coarseQueries` row,
    * both (vec_id, pvec) — RP's and PCA's projections, MRL's prefix.
    * Output: (qid, vec_id, coarse).
    */
  def cosineScan(coarseBase: DataFrame, coarseQueries: DataFrame): DataFrame = {
    val q = broadcast(coarseQueries.select(col("vec_id").as("qid"),
      col("pvec").as("qpvec")))
    coarseBase.crossJoin(q).select(col("qid"), col("vec_id"),
      ExactKnn.dist(col("pvec"), col("qpvec")).as("coarse"))
  }
}
