package graft.knn

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** One shard's graph index as the shard harness drives it: the
  * reference's `Index` trait (insert / insert_many / search,
  * `src/index.rs`), plus the `copy()` that lets an insert leave its input
  * index as it was. [[HnswIndex]] and [[VamanaIndex]] implement it.
  */
trait ShardGraph[G <: ShardGraph[G]] extends Serializable {

  /** Build this fresh graph from one shard's rows, ascending by id. */
  def build(points: Iterator[(Long, Array[Double])]): G = insertAll(points)

  /** Insert rows in the given order; returns this graph. */
  def insertAll(points: Iterator[(Long, Array[Double])]): G

  /** A copy that later inserts grow exactly as they would grow this
    * graph, leaving this one as it was.
    */
  def copy(): G

  /** At most k (id, distance) rows, ascending by (distance, insertion
    * order).
    */
  def search(q: Array[Double], k: Int, ef: Int): Array[(Long, Double)]
}

/** The metric both graph families walk with: the engine-wide clamped
  * cosine distance in [0, 1], and the (distance, node) order of beams.
  */
object ShardGraph {

  private[knn] def l2(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** Clamped cosine distance; zips to the shorter length like the
    * reference's dot (`src/vector.rs:9-11`). Clamped on BOTH ends:
    * dot/denom of a vector with itself can exceed 1 by an ulp, which
    * would make the distance spuriously negative.
    */
  private[knn] def dist(a: Array[Double], na: Double, b: Array[Double], nb: Double): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0; var i = 0
    while (i < n) { d += a(i) * b(i); i += 1 }
    val denom = na * nb
    if (denom == 0.0) 1.0
    else math.max(1.0 - math.max(d / denom, 0.0), 0.0)
  }

  private[knn] val byDistAsc: Ordering[(Double, Int)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
}

/** A built distributed index: the shard graphs PLUS the fixed routing
  * modulus they were built with — carried together so incremental
  * inserts can never route new vectors to a different shard than their
  * neighbors went to (the co-sharding invariant is structural, not a
  * caller-supplied parameter).
  *
  * `graphs` is placed on `HashPartitioner(shards)`: partition i holds
  * exactly shard i's graph, or nothing if shard i is empty.
  */
final case class ShardedIndex[G <: ShardGraph[G]](shards: Int,
    graphs: RDD[(Int, G)]) {

  /** The shard graphs, persisted again if a release unpersisted them:
    * every search batch runs against this layout, so only queries
    * travel (at 100 TB: index placement is decided once; query waves
    * stream past it).
    */
  def placed: RDD[(Int, G)] = persist().graphs

  /** Marks the graphs for caching at `level`; a no-op while they are
    * persisted, since Spark throws on a storage-level change.
    */
  def persist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): ShardedIndex[G] =
    synchronized {
      if (graphs.getStorageLevel == StorageLevel.NONE) graphs.persist(level)
      this
    }

  def unpersist(): ShardedIndex[G] = { graphs.unpersist(); this }
}

/** The shard harness every graph family runs on — the distributed form
  * of the reference's single-process index (`src/hnsw.rs:304-327`). A
  * family is one object: its memo family name and the fresh graph a
  * shard starts from (`fresh(shard)`).
  *
  * Build: base rows route to `HashPartitioner(shards)` on their shard id
  * (vec_id mod shards), so partition i holds shard i's vectors, and each
  * partition builds its graph in place from its rows ascending by
  * vec_id. That placed RDD is the index: only vectors are shuffled,
  * once, and the graphs never move again. An insert shuffles only the
  * new rows onto the same partitioner and extends a copy of each
  * receiving shard's graph where it lives.
  *
  * Search walks every shard graph for every query (`probeShard`) and
  * keeps the top k per query by (dist rounded 6, vec_id): scatter-gather
  * for a query DataFrame, one shuffle-free wave for a driver-held batch
  * (REPOSE-style local top-k, coordinator merge; a query set too large
  * to hold on the driver belongs in the DataFrame leg).
  *
  * Scale notes: each executor core owns one shard graph, so build is
  * embarrassingly parallel and only (qid, id, dist) triples (shards × k
  * per query, no base vectors) leave a shard. Recall is ≥ a single
  * global graph's because every shard is probed.
  */
abstract class ShardedKnn[G <: ShardGraph[G]](family: String,
    fresh: Int => G) {
  import ShardedIndex._

  /** Build one graph per shard — the build-once half of
    * build-once/search-many: `.persist()` the result and run any number
    * of [[searchIndex]] batches against it without rebuilding; extend
    * with [[insertIntoIndex]]; checkpoint with [[saveIndex]]/[[loadIndex]].
    */
  def buildIndex(base: DataFrame, shards: Int = 16): ShardedIndex[G] = {
    val newGraph = fresh // a local: the task closure must not capture this
    ShardedIndex(shards, routed(base, shards).mapPartitionsWithIndex({
      (s, rows) =>
        if (!rows.hasNext) Iterator.empty
        else Iterator.single(s -> newGraph(s).build(sortedById(rows)))
    }, preservesPartitioning = true))
  }

  /** Incremental `insert_many` (the reference's `src/index.rs:7-9`):
    * route new vectors to their shard by the same fixed rule (only they
    * are shuffled) and extend a `copy()` of each receiving shard's graph
    * in its partition — no rebuild of prior points, and `index` itself
    * is never mutated. Reads `index.graphs`, so an input that was never
    * persisted is not cached as a side effect. Shards receiving no new
    * rows pass their graph through; a shard that had no graph (fewer
    * base rows than shards) starts a fresh one.
    */
  def insertIntoIndex(index: ShardedIndex[G], rows: DataFrame): ShardedIndex[G] = {
    val newGraph = fresh
    // routing modulus comes from the index itself (never a parameter —
    // a mismatched value would silently break co-sharding)
    ShardedIndex(index.shards, index.graphs.zipPartitions(
      routed(rows, index.shards), preservesPartitioning = true) {
      (graphs, adds) =>
        if (!adds.hasNext) graphs
        else {
          val in = adds.buffered
          val s = in.head._1
          val graph = if (graphs.hasNext) graphs.next()._2.copy() else newGraph(s)
          Iterator.single(s -> graph.insertAll(sortedById(in)))
        }
    })
  }

  /** Persist the shard graphs as a parquet table of java-serialized
    * blobs — the index-as-a-table checkpoint that lets a later job
    * [[loadIndex]] and search without rebuilding (at 100 TB this is the
    * difference between an index build and a metadata read).
    */
  def saveIndex(index: ShardedIndex[G], path: String): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    val n = index.shards
    index.graphs.map { case (s, g) => (s, n, IndexFiles.toBytes(g)) }
      .toDF("shard", "n_shards", "graph_bytes").write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveIndex]] checkpoint: the blobs shuffle onto
    * `HashPartitioner(n_shards)` and decode in their partition, so the
    * reloaded index has the built one's layout. The routing modulus
    * travels with the checkpoint; reading it prunes to the tiny
    * `n_shards` column (no blob deserialization).
    */
  def loadIndex(spark: SparkSession, path: String): ShardedIndex[G] = {
    import spark.implicits._
    val stored = spark.read.parquet(path)
    val n = stored.select("n_shards").head.getInt(0)
    ShardedIndex(n, stored.select("shard", "graph_bytes")
      .as[(Int, Array[Byte])].rdd
      .partitionBy(new HashPartitioner(n))
      .mapValues(IndexFiles.fromBytes[G]))
  }

  /** Fully distributed scatter-gather search of a QUERY DATAFRAME
    * (`vec_id`, `emb`) against every shard graph:
    *
    *   - scatter: each query row is replicated to all `shards` shard
    *     ids and shuffled to the shard's fixed partition — one shuffle
    *     of (qid, vec) pairs, the inherent cost of probing every shard;
    *   - probe: `zipPartitions` against [[ShardedIndex.placed]] walks
    *     the partition's local graph per query, STREAMING the query
    *     iterator (no per-task materialization of the query set — task
    *     memory is one graph + one in-flight query);
    *   - gather: per-shard candidates (qid, id, dist triples, never
    *     vectors) merge through the bounded-heap top-k.
    *
    * No query vector ever visits the driver, at any query-split size.
    * Output: (qid, vec_id, dist rounded 6, rk).
    */
  def searchIndex(index: ShardedIndex[G], queries: DataFrame, k: Int,
      ef: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val nShards = index.shards
    val qrep = queries.select(col("vec_id"), col("emb"))
      .as[(Long, Array[Double])].rdd
      .flatMap(q => Iterator.range(0, nShards).map(sh => (sh, q)))
      .partitionBy(new HashPartitioner(nShards))
    val cand = index.placed.zipPartitions(qrep) { (git, qit) =>
      probeShard(git, qit.map(_._2), k, ef)
    }
    spark.createDataset(cand).toDF("qid", "vec_id", "dist")
      .withColumn("dist", round(col("dist"), 6))
      .transform(df => graft.plans.GraftOps.topKPerGroup(df, Seq("qid"),
        Seq("dist" -> true, "vec_id" -> true), k))
  }

  /** Driver-array form (serve batches, tests): ONE shuffle-free job.
    * `mapPartitions` over [[ShardedIndex.placed]] with the batch in the
    * task closure returns each shard's k candidates per query, and the
    * driver rounds `dist` like Spark's `round(_, 6)`, keeps the top k per
    * qid by (dist, vec_id) and numbers `rk`. Returns the same rows and
    * schema as the DataFrame form (HnswSpec pins the equality).
    */
  def searchIndex(index: ShardedIndex[G],
      queries: Array[(Long, Array[Double])], k: Int = 10,
      ef: Int = 100): DataFrame = {
    val cand = index.placed
      .mapPartitions(git => probeShard(git, queries.iterator, k, ef)).collect()
    val rows = cand.groupBy(_._1).valuesIterator.flatMap { c =>
      c.map { case (q, id, dist) => (q, id, round6(dist)) }
        .sortBy(t => (t._3, t._2))(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        .iterator.take(k)
        .zipWithIndex.map { case ((q, id, dist), i) => Row(q, id, dist, i + 1) }
    }.toList
    import scala.jdk.CollectionConverters._
    SparkSession.active.createDataFrame(rows.asJava, SearchSchema)
  }

  /** The one shard-graph memo step: under (`cacheFamily`, `parts`),
    * persist the index and build its graphs with one job. A hit runs no
    * job; [[ShardedIndex.placed]] re-persists it after a release.
    */
  protected def memo(spark: SparkSession, cacheFamily: String, parts: Any*)(
      build: => ShardedIndex[G]): ShardedIndex[G] =
    graft.IndexCache.getOrBuild(spark, cacheFamily, parts: _*) {
      val ix = build.persist()
      ix.graphs.count()
      ix
    }

  /** The persisted shard graphs over `dir`'s split base, built once per
    * (dataset, shards): the one build site every entry point of the
    * family shares — k and ef are search-time knobs.
    */
  private[graft] def memoIndex(spark: SparkSession, dir: String,
      shards: Int): ShardedIndex[G] =
    memo(spark, family, dir, shards)(
      buildIndex(ExactKnn.split(spark, dir)._1, shards))

  /** Per-shard top-k candidates for every held-out query (one-shot
    * build + search). Output: (qid, vec_id, dist rounded 6, rk),
    * rk <= k — same shape as [[ExactKnn.topKBatch]] so the two are
    * directly joinable for recall.
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10, ef: Int = 100,
      shards: Int = 16): DataFrame = {
    val (_, queries, _, _) = ExactKnn.split(spark, dir)
    searchIndex(memoIndex(spark, dir, shards), queries, k, ef)
  }

  /** Declared end-to-end index LIFECYCLE: build (or reuse) the shard
    * graphs, checkpoint them with [[saveIndex]], [[loadIndex]] the
    * checkpoint, and search every held-out query with the RELOADED
    * index (the reference's `src/index.rs:7-9` trait surface as one
    * query). Output: (qid, vec_id, dist, rk) — bit-equal to
    * [[topKBatch]]: the checkpoint round-trip must not change a single
    * neighbor (HnswSpec and VamanaKnnSpec pin the equality; the
    * oracle rows re-prove the reloaded index answers).
    */
  def topKBatchLifecycle(spark: SparkSession, dir: String, k: Int = 10,
      ef: Int = 100, shards: Int = 16): DataFrame = {
    val (_, queries, _, _) = ExactKnn.split(spark, dir)
    // checkpoint once per (dataset, shards) — in Bench the first call is
    // charged to the family's bench_build_*_ckpt row; the reload below is
    // memoized too, so after the first call the declared query times the
    // probe
    val path = graft.IndexCache.checkpoint(spark, family, dir, shards)(
      saveIndex(memoIndex(spark, dir, shards), _))
    val reloaded = memo(spark, s"$family-reloaded", dir, shards)(
      loadIndex(spark, path))
    searchIndex(reloaded, queries, k, ef)
  }
}

object ShardedIndex {

  /** Explicit, reproducible shard assignment: `vec_id mod shards`, as
    * (shard, (vec_id, emb)) rows shuffled onto `HashPartitioner(shards)`,
    * so shard s lands in partition s. A FIXED rule (not the engine's
    * internal repartition hash) so later incremental inserts route new
    * vectors to the same shard their neighbors went to.
    */
  private[knn] def routed(rows: DataFrame,
      shards: Int): RDD[(Int, (Long, Array[Double]))] = {
    import rows.sparkSession.implicits._
    rows.select(col("vec_id"), col("emb")).as[(Long, Array[Double])].rdd
      .map { case (id, v) => (Math.floorMod(id, shards.toLong).toInt, (id, v)) }
      .partitionBy(new HashPartitioner(shards))
  }

  /** One shard's routed rows, ascending by vec_id: insert order is fixed,
    * so the graphs are bit-reproducible run to run.
    */
  private[knn] def sortedById(rows: Iterator[(Int, (Long, Array[Double]))]) =
    rows.map(_._2).toArray.sortBy(_._1).iterator

  /** Walk the partition's shard graph (0 or 1 per placed partition) for
    * every query: k (qid, vec_id, dist) triples per query. The one graph
    * walk both search legs share.
    */
  private[knn] def probeShard[G <: ShardGraph[G]](graphs: Iterator[(Int, G)],
      queries: Iterator[(Long, Array[Double])], k: Int,
      ef: Int): Iterator[(Long, Long, Double)] = {
    val gs = graphs.map(_._2).toVector
    queries.flatMap { case (qid, qv) =>
      gs.iterator.flatMap(g =>
        g.search(qv, k, ef).iterator.map { case (id, dist) => (qid, id, dist) })
    }
  }

  /** Spark's `round(_, 6)` on a double: HALF_UP on the decimal form. */
  private[graft] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The scatter-gather leg's output schema: `round` makes `dist`
    * nullable, the top-k rank is a non-null int.
    */
  private[knn] val SearchSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("dist", DoubleType),
    StructField("rk", IntegerType, nullable = false)))
}
