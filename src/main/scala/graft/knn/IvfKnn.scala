package graft.knn

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.IndexCache

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * partition-pruning ANN formulation, complementing the graph-based
  * [[HnswKnn]]: cluster the base vectors around k-means centroids, then
  * search only the `nprobe` clusters nearest to each query.
  *
  * Scale notes (100 TB thinking):
  *   - Centroids are tiny (k x dim doubles) and travel as a broadcast;
  *     cluster assignment is a map-only tight JVM loop over that
  *     broadcast — the base table is never shuffled to train or assign
  *     (Lloyd updates send only per-partition (cid, sumVec, count)
  *     partials to the driver: partitions x k rows, not rows x dim).
  *   - At scale the assigned table would be written bucketed/partitioned
  *     BY cid, making each query's probe set a partition-pruned scan of
  *     nprobe/k of the data — that pruning is the entire point of IVF.
  *   - The probe join broadcasts the exploded (qid, cid) pairs, so the
  *     big side again never shuffles; per-query cost is nprobe clusters
  *     instead of the full base.
  *   - Training and assignment are memoized per dataset via
  *     [[IndexCache]] (build once, search many — recall evaluation and
  *     repeated batches hit the same persisted assigned table).
  *
  * All per-row numeric loops are typed-map JVM code, not higher-order
  * Column functions: Spark 4's HOFs are interpreted per element
  * (measured ~1000x slower than the equivalent JVM loop for exactly
  * this argmin-over-centroids shape).
  */
object IvfKnn {

  /** Clamped cosine distance, bit-for-bit the fold of
    * [[graft.functions.ArrayMath.CosineSimilarity]] (dot over the
    * shorter zip, magnitudes over full arrays, zero denominator -> 0,
    * clamp at 0, distance = 1 - sim).
    */
  private[graft] def cosDist(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var sa = 0.0; var sb = 0.0
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < a.length) { sa += a(i) * a(i); i += 1 }
    i = 0
    while (i < b.length) { sb += b(i) * b(i); i += 1 }
    val denom = math.sqrt(sa) * math.sqrt(sb)
    1.0 - (if (denom == 0.0) 0.0 else math.max(dot / denom, 0.0))
  }

  /** First index of the minimum centroid distance (the tie-break
    * `array_position(dists, array_min(dists))` would give).
    */
  private[graft] def nearestCid(cs: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = cosDist(cs(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` nearest centroid ids for a query, ordered by
    * (distance, cid) ascending — the JVM mirror of sorting
    * struct(dist, cid) and slicing.
    */
  private[graft] def probeCids(cs: Array[Array[Double]], v: Array[Double],
      nprobe: Int): Array[Int] = {
    val scored = Array.tabulate(cs.length)(c => (cosDist(cs(c), v), c))
    scored.sortBy(identity).take(nprobe).map(_._2)
  }

  /** Lloyd's k-means over an `emb` column (cosine-distance assignment,
    * mean update). Deterministic: seeds are the k lowest-vec_id vectors;
    * partial sums combine on the driver in (cid, partitionId) order so
    * the floating-point fold order is fixed.
    */
  def trainCentroids(base: DataFrame, k: Int, iters: Int = 3): Seq[Seq[Double]] = {
    import base.sparkSession.implicits._
    val sc = base.sparkSession.sparkContext
    val typed = base.select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
    var centroids: Array[Array[Double]] = base.orderBy("vec_id").limit(k)
      .select("emb").collect().map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until iters) {
      val bc = sc.broadcast(centroids)
      val partials = typed.mapPartitions { it =>
        val cs = bc.value
        val sums = new scala.collection.mutable.HashMap[Int, (Array[Double], Long)]
        it.foreach { case (_, v) =>
          val c = nearestCid(cs, v)
          val (s, n) = sums.getOrElseUpdate(c, (new Array[Double](v.length), 0L))
          var i = 0
          while (i < v.length) { s(i) += v(i); i += 1 }
          sums(c) = (s, n + 1)
        }
        val pid = TaskContext.getPartitionId()
        sums.iterator.map { case (c, (s, n)) => (pid, c, s, n) }
      }.collect()
      val byCid = partials.groupBy(_._2)
      centroids = centroids.indices.map { c =>
        byCid.get(c) match {
          case Some(rows) =>
            val dim = rows.head._3.length
            val acc = new Array[Double](dim)
            var n = 0L
            rows.sortBy(_._1).foreach { case (_, _, s, cnt) =>
              var i = 0
              while (i < dim) { acc(i) += s(i); i += 1 }
              n += cnt
            }
            var i = 0
            while (i < dim) { acc(i) /= n; i += 1 }
            acc
          case None => centroids(c) // empty cluster keeps its seed
        }
      }.toArray
    }
    centroids.map(_.toSeq).toSeq
  }

  /** (vec_id, emb, cid) — the inverted-file assignment (map-only). */
  def assignCids(base: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    import base.sparkSession.implicits._
    val bc = base.sparkSession.sparkContext.broadcast(centroids)
    base.select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (id, v, nearestCid(cs, v)) }
      }.toDF("vec_id", "emb", "cid")
  }

  /** A built IVF index: the k-means centroids plus the assigned
    * inverted file (vec_id, emb, cid). Like [[ShardedIndex]],
    * the structure travels as one value so search/insert/save can never
    * pair mismatched halves.
    */
  final case class IvfIndex(centroids: Array[Array[Double]], assigned: DataFrame) {
    /** Persist and materialize the inverted file once (the memo form). */
    def persist(): IvfIndex = {
      assigned.persist(StorageLevel.MEMORY_AND_DISK).count(); this
    }
  }

  /** Train centroids and materialize the inverted file. */
  def buildIndex(base: DataFrame, nCentroids: Int, iters: Int = 3): IvfIndex = {
    val cs = trainCentroids(base, nCentroids, iters).map(_.toArray).toArray
    IvfIndex(cs, assignCids(base, cs))
  }

  /** Incremental insert: assign new vectors to their nearest existing
    * centroid (the standard IVF add path — centroids stay fixed until a
    * retrain) and append to the inverted file.
    */
  def insertIntoIndex(index: IvfIndex, rows: DataFrame): IvfIndex =
    index.copy(assigned =
      index.assigned.unionByName(assignCids(rows, index.centroids)))

  /** Persist the index: centroids as one tiny parquet, the inverted
    * file PARTITIONED BY cid — so a probe of nprobe clusters on the
    * reloaded index is a partition-pruned scan touching nprobe/k of the
    * files (at 100 TB, this directory layout IS the index).
    */
  def saveIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "emb")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // co-locate each cluster before the hive-partitioned write: one
    // file per cid instead of tasks x cids small files (the write-time
    // twin of the probe-side partition pruning)
    index.assigned.repartition(col("cid")).write.mode("overwrite")
      .partitionBy("cid").parquet(s"$path/assigned")
  }

  /** Reload a [[saveIndex]] checkpoint. */
  def loadIndex(spark: SparkSession, path: String): IvfIndex = {
    import spark.implicits._
    val cs = spark.read.parquet(s"$path/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    IvfIndex(cs, spark.read.parquet(s"$path/assigned")
      .select("vec_id", "emb", "cid"))
  }

  /** Probe-limited search over a built index: each query visits only
    * its `nprobe` nearest clusters. On a [[loadIndex]]-ed index the
    * literal cid set prunes partitions statically (PartitionFilters in
    * the scan — checked in IvfKnnSpec).
    * Output: (qid, vec_id, dist rounded 6, rk).
    */
  def searchIndex(index: IvfIndex, queries: Array[(Long, Array[Double])],
      k: Int = 10, nprobe: Int = 2): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val probes: Array[(Long, Array[Double], Array[Int])] =
      queries.map { case (qid, qv) =>
        (qid, qv, probeCids(index.centroids, qv, nprobe))
      }
    val allCids = probes.flatMap(_._3).distinct.toSeq
    val q = probes.toSeq
      .flatMap { case (qid, qv, cids) => cids.map(c => (qid, qv.toSeq, c)) }
      .toDF("qid", "qvec", "cid")
    val scored = index.assigned
      .filter(col("cid").isin(allCids: _*)) // static partition pruning
      .join(broadcast(q), "cid")
      .select(col("qid"), col("vec_id"),
        ExactKnn.dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** DataFrame-native probe of a built index: each query routes to its
    * `nprobe` nearest clusters EXECUTOR-SIDE (map-only over the query
    * split, centroids broadcast), and the (qid, qvec, cid) probe
    * relation broadcast-joins the inverted file on cid — each code row
    * fans out only to the queries probing its cluster, and no query
    * vector ever visits the driver. On a [[loadIndex]]-ed table the cid
    * equi-join prunes partition directories at runtime (the
    * static-literal variant of the same pruning is [[searchIndex]]).
    * Output: (qid, vec_id, dist rounded 6, rk).
    */
  def searchIndexDF(index: IvfIndex, queries: DataFrame, k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index.centroids)
    val q = queries.select(col("vec_id"), col("emb"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (qid, qv) =>
          probeCids(cs, qv, nprobe).iterator.map(c => (qid, qv, c))
        }
      }.toDF("qid", "qvec", "cid")
    val scored = index.assigned.join(broadcast(q), "cid")
      .select(col("qid"), col("vec_id"),
        ExactKnn.dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** Declared end-to-end IVF lifecycle: build (or reuse) the index,
    * [[saveIndex]] it once per dataset (inverted file PARTITIONED BY
    * cid), [[loadIndex]] the checkpoint, and search every held-out
    * query against the RELOADED index via [[searchIndexDF]] — fully
    * distributed, bit-equal to [[topKBatch]].
    */
  def topKBatchLifecycle(spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = 0, nprobe: Int = 0): DataFrame = {
    val (_, queries, _, n) = ExactKnn.split(spark, dir)
    val nC = if (nCentroids > 0) nCentroids
             else math.max(4, math.sqrt(n.toDouble).toInt)
    val nP = if (nprobe > 0) nprobe else math.max(2, nC / 2)
    // one-time checkpoint per (dataset, nC): the inverted-file write is
    // index publication (bench_build_ivf_ckpt pays it), so the declared
    // query's time measures load + partition-pruned probe
    val path = IndexCache.checkpoint(spark, "ivf", dir, nC)(
      saveIndex(memoIndex(spark, dir, nC), _))
    val reloaded = loadIndex(spark, path)
    searchIndexDF(reloaded, queries, k, nP)
  }

  /** `insert_many` into a BUILT IVF index, then search (the reference's
    * index mutation path on the inverted-file family): centroids train
    * on the first 90% prefix only, the 90–95% slab arrives through
    * [[insertIntoIndex]] (nearest-centroid assignment, centroids fixed —
    * the standard IVF add path), and the held-out queries probe the
    * union EXHAUSTIVELY (nprobe = nCentroids), which makes the search
    * exact — so this shares `knn_exact_after_insert`'s oracle, and a
    * hash-match proves the insert assigned every slab vector to some
    * cluster exactly once (a dropped, duplicated, or mis-bucketed row
    * changes the result). The ANN-regime probe (nprobe << nC) is the
    * recall-gated [[topKBatch]]; this row gates the MUTATION.
    * Output: (qid, vec_id, dist rounded 6, rk) for the first `nq`
    * queries.
    */
  def topKAfterInsert(spark: SparkSession, dir: String, k: Int = 10,
      nq: Int = 20, nCentroids: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.toDoubleArray
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("emb"))
    val n = emb.count()
    val s90 = math.round(0.90 * n)
    val s95 = math.round(0.95 * n)
    val nC = if (nCentroids > 0) nCentroids
             else math.max(4, math.sqrt(s90.toDouble).toInt)
    val index = memoInsertedIndex(spark, dir, emb, s90, s95, nC)
    val queries = emb.filter(col("vec_id") >= s95 && col("vec_id") < s95 + nq)
    searchIndexDF(index, queries, k, nprobe = nC)
  }

  /** `delete` on the INVERTED FILE then search — the index-side twin
    * of [[graft.knn.ExactKnn.topKAfterDelete]]: the 80–90% vec_id slab
    * is dropped from the assigned (cid, vec) table by the same keyed
    * left-anti ([[graft.sources.Ingest.deleteByKey]] — at scale a
    * tombstone anti-join against the cid-partitioned posting lists,
    * shuffling only the tombstone keys), centroids untouched, and the
    * held-out queries probe the shrunken index EXHAUSTIVELY so the
    * result is exact and shares the predicate-excluded oracle — a
    * hash-match proves the inverted file dropped exactly the keyed
    * postings. Reuses the after-insert index build (same memo), so the
    * only new cost is the anti-join. Output: (qid, vec_id, dist, rk).
    */
  def topKAfterDelete(spark: SparkSession, dir: String, k: Int = 10,
      nq: Int = 20, nCentroids: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.toDoubleArray
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("emb"))
    val n = emb.count()
    val s80 = math.round(0.80 * n)
    val s90 = math.round(0.90 * n)
    val s95 = math.round(0.95 * n)
    val nC = if (nCentroids > 0) nCentroids
             else math.max(4, math.sqrt(s90.toDouble).toInt)
    val grown = memoInsertedIndex(spark, dir, emb, s90, s95, nC)
    val shrunk = grown.copy(assigned =
      IndexCache.persisted(spark, "ivf-del", dir, nC) {
        graft.sources.Ingest.deleteByKey(grown.assigned,
          emb.filter(col("vec_id") >= s80 && col("vec_id") < s90)
            .select(col("vec_id")), "vec_id")
      })
    val queries = emb.filter(col("vec_id") >= s95 && col("vec_id") < s95 + nq)
    searchIndexDF(shrunk, queries, k, nprobe = nC)
  }

  /** Top-k for every held-out query, probing `nprobe` of `nCentroids`
    * clusters (defaults: sqrt(n) centroids, a quarter of them probed).
    * Output: (qid, vec_id, dist rounded 6, rk) — same shape as
    * [[ExactKnn.topKBatch]] for direct recall evaluation.
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = 0, nprobe: Int = 0): DataFrame = {
    val (_, queries, _, n) = ExactKnn.split(spark, dir)
    val nC = if (nCentroids > 0) nCentroids
             else math.max(4, math.sqrt(n.toDouble).toInt)
    val nP = if (nprobe > 0) nprobe else math.max(2, nC / 2)
    searchIndexDF(memoIndex(spark, dir, nC), queries, k, nP)
  }

  /** The IVF index over `dir`'s split base, built once per (dataset,
    * nC) — the one build site batch and lifecycle share.
    */
  private def memoIndex(spark: SparkSession, dir: String,
      nC: Int): IvfIndex =
    IndexCache.getOrBuild(spark, "ivf", dir, nC)(
      buildIndex(ExactKnn.split(spark, dir)._1, nC).persist())

  /** The after-insert IVF index (centroids trained on the first 90%,
    * the 90–95% slab inserted), built once per (dataset, nC) — the one
    * build site the insert and delete rows share.
    */
  private def memoInsertedIndex(spark: SparkSession, dir: String,
      emb: DataFrame, s90: Long, s95: Long, nC: Int): IvfIndex =
    IndexCache.getOrBuild(spark, "ivf-ins", dir, nC) {
      val built = buildIndex(emb.filter(col("vec_id") < s90), nC)
      insertIntoIndex(built,
        emb.filter(col("vec_id") >= s90 && col("vec_id") < s95)).persist()
    }
}
