package graft

import org.apache.spark.sql.functions._

import graft.knn.{ExactKnn, IndexFiles, IvfKnn}
import graft.operators.Evaluation

class IvfKnnSpec extends SparkSpec {

  test("ivf: every query answered with <= k rows, ascending, rk dense") {
    val df = IvfKnn.topKBatch(spark, sf0001, k = 10).cache()
    val (_, queries, _, _) = ExactKnn.split(spark, sf0001)
    assert(df.select("qid").distinct().count() == queries.count())
    assert(df.filter(col("rk") > 10).count() == 0)
    assert(df.filter(col("dist") < 0 || col("dist") > 1).count() == 0)
  }

  test("ivf: recall@10 vs exact >= 0.8; full probe = exact recall 1.0") {
    val ivf = IvfKnn.topKBatch(spark, sf0001).select("qid", "vec_id")
    val exact = ExactKnn.topKBatch(spark, sf0001).select("qid", "vec_id")
    val r = Evaluation.recall(ivf, exact).collect()(0).getDouble(0)
    assert(r >= 0.8, s"ivf recall@10 = $r")
    // probing every centroid degenerates to exact search
    val full = IvfKnn.topKBatch(spark, sf0001, nCentroids = 8, nprobe = 8)
      .select("qid", "vec_id")
    val rf = Evaluation.recall(full, exact).collect()(0).getDouble(0)
    assert(rf == 1.0, s"full-probe recall = $rf")
  }

  test("ivf lifecycle: save/load round-trips; probes prune partitions") {
    val (base, queries, _, _) = ExactKnn.split(spark, sf0001)
    val index = IvfKnn.buildIndex(base, nCentroids = 8)
    val qs = queries.orderBy("vec_id").limit(5)
    val before = IvfKnn.searchIndex(index, qs, k = 5, nprobe = 3).collect().toSet

    val dir = graft.streaming.OneShot.tempDir("graft-ivf")
    IndexFiles.save(index.centroids, index.assigned, dir)
    val (cs, assigned) = IndexFiles.load[Array[Array[Double]]](spark, dir)
    val loaded = IvfKnn.IvfIndex(cs, assigned)
    assert(loaded.centroids.length == 8)
    assert(loaded.centroids.zip(index.centroids)
      .forall { case (a, b) => a.sameElements(b) },
      "reloaded centroids must equal the built ones")
    val after = IvfKnn.searchIndex(loaded, qs, k = 5, nprobe = 3)
    assert(after.collect().toSet == before,
      "reloaded index must answer searches identically")
    // the probe relation's cid join must prune the reloaded scan
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"reloaded probe scan not pruned:\n$plan")
  }

  test("declared ivf lifecycle query equals the in-memory batch, bit for bit") {
    val inMemory = IvfKnn.topKBatch(spark, sf0001).collect().toSet
    val lifecycle = IvfKnn.topKBatchLifecycle(spark, sf0001)
    assert(lifecycle.collect().toSet == inMemory,
      "save->load->probe must answer exactly like the in-memory index")
    assert(inMemory.nonEmpty)
    // the probe relation prunes the reloaded partitioned table at
    // runtime: the cid equi-join must plan a dynamic-pruning partition
    // filter on the scan (the distributed sibling of the static isin)
    val plan = lifecycle.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"reloaded scan not dynamically pruned:\n$plan")
  }

  test("ivf incremental insert: new vectors land in probe-reachable clusters") {
    val (base, queries, splitAt, _) = ExactKnn.split(spark, sf0001)
    val head = base.filter(col("vec_id") < 400)
    val tail = base.filter(col("vec_id") >= 400)
    val extended = IvfKnn.insertIntoIndex(
      IvfKnn.buildIndex(head, nCentroids = 8), tail)
    assert(extended.assigned.count() == base.count())
    // a self-query of an inserted vector must return it at distance 0
    // (full probe, so the cluster routing cannot miss it)
    val probe = tail.orderBy("vec_id").limit(2)
    val hits = IvfKnn.searchIndex(extended, probe, k = 1, nprobe = 8)
      .select("qid", "vec_id").collect()
    assert(hits.length == 2, s"expected one hit per probe, got ${hits.length}")
    hits.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"inserted vector ${r.getLong(0)} not its own nearest neighbor"))
  }

  test("declared ivf after-insert query equals the exact after-insert twin") {
    val viaIvf = IvfKnn.topKAfterInsert(spark, sf0001)
      .orderBy("qid", "rk").collect()
    val viaExact = ExactKnn.topKAfterInsert(spark, sf0001)
      .orderBy("qid", "rk").collect()
    assert(viaIvf.length == viaExact.length && viaIvf.nonEmpty)
    assert(viaIvf.sameElements(viaExact),
      "exhaustive-probe IVF after insert must be exactly the brute force")
  }

  test("after-delete probe never returns a deleted posting") {
    val n = Tables.embeddings(spark, sf0001).count()
    val (s80, s90) = (math.round(0.8 * n), math.round(0.9 * n))
    val rows = graft.knn.IvfKnn.topKAfterDelete(spark, sf0001).collect()
      .map(_.getLong(1))
    assert(rows.nonEmpty)
    assert(!rows.exists(v => v >= s80 && v < s90),
      "a deleted vec_id surfaced from the inverted file")
  }
}
