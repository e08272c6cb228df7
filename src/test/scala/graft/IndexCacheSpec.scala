package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.knn.IvfKnn
import graft.operators.{Dedup, GraphOps, HybridSearch}

/** The memo contract every cached relation relies on: typed keys never
  * collide, [[IndexCache.persisted]] materializes once and serves hits
  * without a job, and a hit after a bench-style cache release hands
  * back a handle that is cached again.
  */
class IndexCacheSpec extends SparkSpec {

  /** Parts unique to this run, so a rerun in the same JVM never hits an
    * entry an earlier case left behind.
    */
  private def fresh(): String = java.util.UUID.randomUUID().toString

  test("hybrid-rrf entries for Seq(\"a+b\") and Seq(\"a\",\"b\") are distinct") {
    val rows = (terms: Seq[String]) =>
      HybridSearch.rrfTopK(spark, sf0001, terms = terms, k = 200)
        .filter(col("bm25_rank").isNotNull).count()
    val split = rows(Seq("join", "window"))
    val joined = rows(Seq("join+window"))
    assert(split > 0, "both terms occur in the fixture corpus")
    assert(joined == 0, "no document holds the single token 'join+window'")
  }

  test("a dir containing ':' keeps its registered family and its own entry") {
    val id = fresh()
    val a = IndexCache.getOrBuild(spark, "ndjson-fixture", s"$id/x:y", 1)("A")
    val b = IndexCache.getOrBuild(spark, "ndjson-fixture", s"$id/x", "y:1")("B")
    assert(a == "A" && b == "B")
    val families = IndexCache.auditLog.filter(_._1.contains(id)).map(_._2)
    assert(families == Seq("ndjson-fixture", "ndjson-fixture"))
  }

  test("persisted runs one job on a miss and none on a hit") {
    val id = fresh()
    def memo() = IndexCache.persisted(spark, "batch-result", "spec", id)(
      spark.range(0, 1000, 1, 1).toDF("id"))
    val cachedBefore = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val miss = QueryMetrics.measure(spark)(memo())
    assert(miss.jobs == 1, s"miss ran ${miss.jobs} jobs")
    // that one job built every cached block of the new entry
    val added = spark.sparkContext.getRDDStorageInfo
      .filterNot(i => cachedBefore(i.id))
    assert(added.nonEmpty &&
      added.forall(i => i.numCachedPartitions == i.numPartitions))
    val hit = QueryMetrics.measure(spark)(memo())
    assert(hit.jobs == 0, s"hit ran ${hit.jobs} jobs")
    assert(memo().storageLevel == StorageLevel.MEMORY_AND_DISK)
  }

  /** Bench.releaseCaches: drop every cached relation and RDD, then
    * destroy and evict the memoized broadcasts.
    */
  private def releaseLikeBench(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    IndexCache.releaseBroadcasts(spark)
  }

  /** A new plan over a memo, the way a declared row reads it (the
    * memo handle's own executed plan still holds the shuffle outputs
    * of its first run).
    */
  private def reread(df: DataFrame): DataFrame =
    df.select(df.columns.map(col): _*)

  // memoized relations a bench release unpersists: the GraphOps degree,
  // triangle and LPA-label tables, the IVF inverted file, and the mined
  // Jaccard pairs (built over a broadcast gram-frequency map)
  for ((what, memo) <- Seq[(String, () => DataFrame)](
      "a graph-deg" -> (() => GraphOps.degreesOf(spark, sf0001)),
      "an ivf" -> (() => IvfKnn.memoIndex(spark, sf0001, 8).assigned),
      "a graph-tri" -> (() => GraphOps.trianglesOf(spark, sf0001)),
      "a graph-labels" -> (() => GraphOps.labelPropagation(spark, sf0001)),
      "a jaccard-pairs" -> (() => Dedup.ngramJaccardPairs(spark, sf0001))))
    test(s"$what hit after a cache release is re-persisted") {
      try {
        val before = memo()
        val rows = reread(before).collect().toSet
        releaseLikeBench()
        assert(before.storageLevel == StorageLevel.NONE)
        val builds = IndexCache.auditLog.size
        val after = memo()
        assert(IndexCache.auditLog.size == builds,
          "the hit hands back the memoized relation, no rebuild")
        val again = reread(after)
        assert(again.queryExecution.withCachedData
          .find(_.isInstanceOf[InMemoryRelation]).nonEmpty,
          "the hit re-marks the memo for caching")
        assert(again.collect().toSet == rows)
      } finally IndexCache.clear() // later suites rebuild from scratch
    }
}
