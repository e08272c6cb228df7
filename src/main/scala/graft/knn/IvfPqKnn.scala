package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.IndexCache

/** IVF-PQ: the composition of the two scale levers — IVF cluster
  * routing prunes WHICH vectors are visited (nprobe/k of the corpus),
  * PQ codes shrink WHAT is read per visited vector (8 bytes, ADC
  * lookup adds). This is the standard billion-scale ANN layout
  * (FAISS's IndexIVFPQ; Jégou et al. 2011 §IV): at 100 TB of raw
  * embeddings the probed fraction of the code table is all that moves,
  * and the full-precision vectors are touched only for the final
  * [[TwoStage]] re-rank of `k·overfetch` candidates per query.
  *
  * Candidate scoring is MAP-ONLY: the per-query lookup tables are
  * grouped by probed cluster and broadcast, so each code row fans out
  * exactly to the queries probing its cluster — no shuffle ever sees
  * the code table.
  */
object IvfPqKnn {

  /** Top-k for every held-out query. Output: (qid, vec_id, dist
    * rounded 6, rk) — same shape as [[ExactKnn.topKBatch]].
    *
    * Distributed query side: probe routing runs executor-side
    * (map-only over the query split with the centroids broadcast), the
    * (qid, cid) probe relation equi-joins the code table on cid — each
    * code row fans out ONLY to the queries probing its cluster — and a
    * second broadcast join attaches the per-query flattened ADC table,
    * scored in codegen by [[graft.functions.PqAdcDistance]]. The probe
    * and LUT relations travel as ENGINE-MANAGED broadcasts, bounded by
    * nprobe x queries pairs and queries x m x ksub doubles.
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = 0, nprobe: Int = 0, m: Int = 8, ksub: Int = 256,
      overfetch: Int = 16): DataFrame = {
    val (base, queries, _, n) = ExactKnn.split(spark, dir)
    val (nC, nP) = IvfKnn.defaults(n, nCentroids, nprobe)
    val ((centroids, cb), lists) = builtIndex(spark, base, dir, nC, m, ksub)
    searchLists(spark, centroids, cb, lists, base, queries, k, nP, ksub,
      overfetch)
  }

  /** Build (or reuse) the composed index: (centroids, codebooks) +
    * per-vector (cid, codes), memoized per dataset.
    */
  def builtIndex(spark: SparkSession, base: DataFrame, dir: String,
      nC: Int, m: Int, ksub: Int)
      : ((Array[Array[Double]], PqKnn.PqCodebooks), DataFrame) =
  {
    val (cs, books) = IndexCache.getOrBuild(spark, "ivfpq", dir, nC, m, ksub) {
      (IvfKnn.trainCentroids(base, nC),
        PqKnn.trainCodebooks(base, m, ksub))
    }
    ((cs, books), IndexCache.persisted(spark, "ivfpq", dir, nC, m, ksub,
      "lists") {
      PqKnn.encode(base, books)
        .join(IvfKnn.assignCids(base, cs).select("vec_id", "cid"), "vec_id")
    })
  }

  /** The search body shared by the in-memory and reloaded paths (the
    * lifecycle query is bit-equal to [[topKBatch]] by construction).
    */
  def searchLists(spark: SparkSession, centroids: Array[Array[Double]],
      cb: PqKnn.PqCodebooks, lists: DataFrame, base: DataFrame,
      queries: DataFrame, k: Int, nP: Int, ksub: Int,
      overfetch: Int): DataFrame = {
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(centroids)
    val probes = queries.select(col("vec_id"), col("emb"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bcC.value
        it.flatMap { case (qid, qv) =>
          IvfKnn.probeCids(cs, qv, nP).iterator.map(c => (qid, c))
        }
      }.toDF("qid", "cid")

    val scored = lists.select(col("vec_id"), col("codes"), col("cid"))
      .join(broadcast(probes), "cid")
      .join(broadcast(PqKnn.queryLutsDF(queries, cb, ksub)), "qid")
      .select(col("qid"), col("vec_id"),
        graft.functions.QuantizedDistances
          .pqAdcDistance(col("codes"), col("lut"), ksub).as("coarse"))
    TwoStage.search(scored, k, overfetch, base, queries)
  }

  /** Declared end-to-end IVF-PQ LIFECYCLE (build → save → load →
    * search) through [[IndexFiles.reloaded]]: the model is (centroids,
    * codebooks), the table the code lists, written PARTITIONED BY
    * cluster id — the FAISS-style on-disk IVF-PQ layout — so the probe
    * join's cid key prunes the reloaded scan to the probed clusters'
    * files (dynamic partition pruning). Bit-equal to [[topKBatch]] by
    * construction (same [[searchLists]] body); IvfPqKnnSpec pins the
    * equality and the pruning. The save is charged to
    * bench_build_ivfpq_ckpt.
    */
  def topKBatchLifecycle(spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = 0, nprobe: Int = 0, m: Int = 8, ksub: Int = 256,
      overfetch: Int = 16): DataFrame = {
    val (base, queries, _, n) = ExactKnn.split(spark, dir)
    val (nC, nP) = IvfKnn.defaults(n, nCentroids, nprobe)
    val ((cs, cb), lists) = IndexFiles.reloaded(spark, "ivfpq", dir, nC, m,
      ksub)(builtIndex(spark, base, dir, nC, m, ksub))
    searchLists(spark, cs, cb, lists, base, queries, k, nP, ksub, overfetch)
  }
}
