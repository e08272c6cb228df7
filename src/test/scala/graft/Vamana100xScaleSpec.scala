package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 100x scale tier for the flagship disk-native ANN family (the r6
  * verdict's ask: probe the constant-factor regime beyond the 10x
  * ScaleSpecs — the class of surprise that bit r5's LSH and was caught
  * by arithmetic, not measurement): a deterministic clustered
  * embeddings table at 100x the sf0.001 row count (50,000 vectors),
  * built and searched through the REAL [[graft.knn.VamanaKnn]]
  * shard harness, with assertions on output cardinality (exactly
  * nq x k — the scatter-gather merge may neither drop nor flood) and
  * recall against a driver-computed exact ground truth (quality must
  * not collapse with corpus growth).
  *
  * Wall-clock is deliberately not asserted (CI noise); the spec runs
  * inside the suite's time budget by bounding the query set, not the
  * corpus.
  */
class Vamana100xScaleSpec extends SparkSpec {
  import Vamana100xScaleSpec._

  private lazy val dir: String = {
    import spark.implicits._
    val d = graft.streaming.OneShot.tempDir(s"graft-vamana100x")
    val bc = spark.sparkContext.broadcast(centerVecs)
    spark.range(n).as[Long].mapPartitions { it =>
      val cs = bc.value
      it.map { id =>
        (id, Vamana100xScaleSpec.vecOf(id, cs).map(_.toFloat),
          (id % cs.length).toInt)
      }
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("vamana at 100x: exact nq x k output, recall holds at scale") {
    import spark.implicits._
    val k = 10
    val nq = 25
    val splitAt = math.round(0.95 * n) // the engine-wide prefix split
    val (base, _, _, _) = graft.knn.ExactKnn.split(spark, dir)
    val index = graft.knn.VamanaKnn.buildIndex(base, shards = 16).persist()
    index.graphs.count()
    val queryIds = (splitAt until splitAt + nq).toArray
    val queries = spark.createDataset(
      queryIds.toSeq.map(q => (q, vecOf(q, centerVecs))))
      .toDF("vec_id", "emb")
    val got = graft.knn.VamanaKnn.searchIndex(index, queries, k, ef = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // cardinality: the scatter-gather merge returns exactly k per
    // query — no drops (a shard routed wrong) and no floods (rank
    // dedup broken)
    assert(got.length == nq * k,
      s"expected ${nq * k} rows, got ${got.length}")
    val byQ = got.groupBy(_._1)
    assert(byQ.size == nq && byQ.values.forall(_.length == k))
    // recall vs exact: driver-side brute force over the regenerated
    // base (deterministic generator — no second parquet scan needed)
    val cs = centerVecs
    val baseVecs = (0L until splitAt).map(id => (id, vecOf(id, cs)))
    def dist(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var i = 0
      while (i < dim) { dot += a(i) * b(i); i += 1 }
      1.0 - math.max(dot, 0.0)
    }
    val recalls = queryIds.map { q =>
      val qv = vecOf(q, cs)
      val exact = baseVecs.map { case (id, v) => (dist(qv, v), id) }
        .sorted.take(k).map(_._2).toSet
      val ann = byQ(q.toLong).map(_._2).toSet
      (exact & ann).size.toDouble / k
    }
    val meanRecall = recalls.sum / recalls.length
    assert(meanRecall >= 0.8,
      s"recall collapsed at 100x: mean $meanRecall, per-query " +
        recalls.map(r => f"$r%.2f").mkString(","))
    index.graphs.unpersist()
  }
}

/** Generator statics live on the companion so executor closures never
  * capture the (non-serializable) suite instance.
  */
object Vamana100xScaleSpec {
  val n = 50000 // 100x sf0.001's 500 embeddings
  val dim = 64
  val centers = 50
  val seed = 42L

  def centerVecs: Array[Array[Double]] = Array.tabulate(centers) { c =>
    val r = new java.util.Random(seed * 7919L + c)
    val v = Array.fill(dim)(r.nextGaussian())
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / nrm)
  }

  /** Vector for one id — deterministic, partition-independent (the
    * ScaleSpec generator), so the driver can replay any row exactly.
    */
  def vecOf(id: Long, cs: Array[Array[Double]]): Array[Double] = {
    val r = new java.util.Random(seed ^ (id * 2654435761L))
    val c = cs((id % cs.length).toInt)
    val v = Array.tabulate(dim)(i => c(i) + 1.0 * r.nextGaussian())
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / nrm)
  }
}
