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
  * re-rank of `overfetch * k` candidates per query.
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
    * and LUT relations travel as ENGINE-MANAGED broadcasts (bounded by
    * nprobe x queries pairs and queries x m x ksub doubles); a query
    * split too large for a broadcast runs as waves of this plan or
    * flips to the zipPartitions replication [[PqKnn.topKBatch]] uses.
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = 0, nprobe: Int = 0, m: Int = 8, ksub: Int = 256,
      overfetch: Int = 16): DataFrame = {
    val (base, queries, _, n) = ExactKnn.split(spark, dir)
    val nC = if (nCentroids > 0) nCentroids
             else math.max(4, math.sqrt(n.toDouble).toInt)
    val nP = if (nprobe > 0) nprobe else math.max(2, nC / 2)
    val (centroids, cb, lists) = builtIndex(spark, base, dir, nC, m, ksub)
    searchLists(spark, centroids, cb, lists, base, queries, k, nP, ksub,
      overfetch)
  }

  /** Build (or reuse) the composed index: centroids + per-vector
    * (cid, codes), memoized per dataset.
    */
  def builtIndex(spark: SparkSession, base: DataFrame, dir: String,
      nC: Int, m: Int, ksub: Int)
      : (Array[Array[Double]], PqKnn.PqCodebooks, DataFrame) =
  {
    val (cs, books) = IndexCache.getOrBuild(spark, "ivfpq", dir, nC, m, ksub) {
      (IvfKnn.trainCentroids(base, nC).map(_.toArray).toArray,
        PqKnn.trainCodebooks(base, m, ksub))
    }
    (cs, books, IndexCache.persisted(spark, "ivfpq", dir, nC, m, ksub,
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
          .pqAdcDistance(col("codes"), col("lut"), ksub).as("approx_dist"))
    val cand = graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("approx_dist" -> true, "vec_id" -> true), overfetch * k)
      .select("qid", "vec_id")
    ExactKnn.rerank(cand, base, queries, k)
  }

  /** Checkpoint the composed index: driver-tiny centroid and codebook
    * relations plus the code lists PARTITIONED BY cluster id — the
    * FAISS-style on-disk IVF-PQ layout where a probe of the reloaded
    * table is a partition-pruned scan (only the probed clusters' files
    * are read).
    */
  def saveIndex(centroids: Array[Array[Double]], cb: PqKnn.PqCodebooks,
      lists: DataFrame, path: String): Unit = {
    val spark = lists.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val cbRows = for (j <- 0 until cb.m; c <- cb.books(j).indices)
      yield (j, c, cb.dim, cb.books(j)(c).toSeq)
    cbRows.toDF("j", "c", "dim", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // one file per cid, not tasks x cids (see IvfKnn.saveIndex)
    lists.repartition(col("cid")).write.mode("overwrite").partitionBy("cid")
      .parquet(s"$path/lists")
  }

  /** Reload a [[saveIndex]] checkpoint (centroids/codebooks driver-read
    * like IVF's; the code lists stay a distributed, cid-partitioned
    * table).
    */
  def loadIndex(spark: SparkSession, path: String)
      : (Array[Array[Double]], PqKnn.PqCodebooks, DataFrame) = {
    import spark.implicits._
    val cs = spark.read.parquet(s"$path/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .as[(Int, Int, Int, Seq[Double])].collect()
    val m = cbRows.map(_._1).max + 1
    val books = Array.tabulate(m) { j =>
      cbRows.filter(_._1 == j).sortBy(_._2).map(_._4.toArray)
    }
    (cs, PqKnn.PqCodebooks(m, cbRows.head._3, books),
      spark.read.parquet(s"$path/lists"))
  }

  /** Declared end-to-end IVF-PQ LIFECYCLE (build → save → load →
    * search) — the checkpoint surface for the COMPOSED billion-scale
    * layout, next to the graph (HNSW), routing (IVF), and compression
    * (PQ) families. Bit-equal to [[topKBatch]] by construction (same
    * [[searchLists]] body); IvfPqKnnSpec pins the equality. The save
    * is memoized and charged to bench_build_ivfpq_ckpt; the reloaded
    * index is memoized too (`ivfpq-reloaded`), so after the first call
    * this query times the probe.
    */
  def topKBatchLifecycle(spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = 0, nprobe: Int = 0, m: Int = 8, ksub: Int = 256,
      overfetch: Int = 16): DataFrame = {
    val (base, queries, _, n) = ExactKnn.split(spark, dir)
    val nC = if (nCentroids > 0) nCentroids
             else math.max(4, math.sqrt(n.toDouble).toInt)
    val nP = if (nprobe > 0) nprobe else math.max(2, nC / 2)
    val path = IndexCache.checkpoint(spark, "ivfpq", dir, nC, m, ksub) { p =>
      val (cs, cb, lists) = builtIndex(spark, base, dir, nC, m, ksub)
      saveIndex(cs, cb, lists, p)
    }
    val (cs, cb, l0) = IndexCache.getOrBuild(spark, "ivfpq-reloaded", dir,
      nC, m, ksub)(loadIndex(spark, path))
    val lists = IndexCache.persisted(spark, "ivfpq-reloaded", dir, nC, m,
      ksub, "lists")(l0)
    searchLists(spark, cs, cb, lists, base, queries, k, nP, ksub, overfetch)
  }
}
