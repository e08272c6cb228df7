package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.knn.IvfKnn
import graft.operators.{GraphOps, HybridSearch}

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

  // two memoized relations a bench release unpersists: the GraphOps
  // degree table and the IVF inverted file
  for ((what, memo) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "a graph-deg" -> (() => GraphOps.degreesOf(spark, sf0001)),
      "an ivf" -> (() => IvfKnn.memoIndex(spark, sf0001, 8).assigned)))
    test(s"$what hit after a cache release is re-persisted") {
      try {
        val before = memo()
        val n = before.count()
        // Bench.releaseCaches: drop every cached relation and RDD
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        assert(before.storageLevel == StorageLevel.NONE)
        val after = memo()
        assert(after eq before, "the hit hands back the memoized handle")
        assert(after.storageLevel == StorageLevel.MEMORY_AND_DISK)
        assert(after.count() == n)
      } finally IndexCache.clear() // later suites rebuild from scratch
    }
}
