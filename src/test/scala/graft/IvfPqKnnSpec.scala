package graft

import org.apache.spark.sql.functions._

import graft.knn.{ExactKnn, IvfPqKnn}
import graft.operators.Evaluation

class IvfPqKnnSpec extends SparkSpec {

  test("ivf-pq: every query answered with k ascending exact-ranked rows") {
    val df = IvfPqKnn.topKBatch(spark, sf0001, k = 10).cache()
    val (_, queries, _, _) = ExactKnn.split(spark, sf0001)
    assert(df.select("qid").distinct().count() == queries.count())
    val perQ = df.groupBy("qid").count().collect()
    assert(perQ.forall(_.getLong(1) == 10))
    assert(df.filter(col("dist") < 0 || col("dist") > 1).count() == 0)
  }

  test("ivf-pq: recall@10 vs exact >= 0.6 (routing x quantization losses)") {
    val got = IvfPqKnn.topKBatch(spark, sf0001).select("qid", "vec_id")
    val exact = ExactKnn.topKBatch(spark, sf0001).select("qid", "vec_id")
    val r = Evaluation.recall(got, exact).collect()(0).getDouble(0)
    assert(r >= 0.6, s"ivf-pq recall@10 = $r")
  }

  test("lifecycle: the reloaded checkpoint answers bit-identically") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(3))
    val live = IvfPqKnn.topKBatch(spark, sf0001).collect().sortBy(key)
    val lifecycle = IvfPqKnn.topKBatchLifecycle(spark, sf0001)
    val reloaded = lifecycle.collect().sortBy(key)
    assert(live.sameElements(reloaded),
      s"live ${live.length} rows != reloaded ${reloaded.length}")
    // the probe relation's cid join must prune the reloaded,
    // cid-partitioned code lists at runtime
    val plan = lifecycle.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"reloaded code lists not dynamically pruned:\n$plan")
  }
}
