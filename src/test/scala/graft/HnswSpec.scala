package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.knn.{ExactKnn, HnswIndex, HnswKnn, ShardGraph, ShardedIndex, ShardedKnn, VamanaIndex, VamanaKnn}
import graft.operators.Evaluation

/** HNSW quality gates — the reference's own correctness mechanism is
  * online recall/precision vs the exact oracle
  * (`/root/reference/src/main.rs:89-93`); we pin it as tests.
  */
class HnswSpec extends SparkSpec {

  test("local index: self-query returns the point itself first") {
    val idx = new HnswIndex(seed = 7)
    val rnd = new scala.util.Random(1)
    val vecs = (0 until 200).map(i =>
      i.toLong -> Array.fill(16)(rnd.nextGaussian()))
    vecs.foreach { case (id, v) => idx.insert(id, v) }
    vecs.take(20).foreach { case (id, v) =>
      val hits = idx.search(v, 1)
      assert(hits.head._1 == id, s"self-query of $id returned ${hits.head}")
      assert(hits.head._2 < 1e-9)
    }
  }

  test("local index: search returns ascending distances, at most k") {
    val idx = new HnswIndex(seed = 11)
    val rnd = new scala.util.Random(2)
    (0 until 500).foreach(i => idx.insert(i.toLong, Array.fill(8)(rnd.nextGaussian())))
    val res = idx.search(Array.fill(8)(rnd.nextGaussian()), 10)
    assert(res.length == 10)
    assert(res.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    assert(res.forall { case (_, d) => d >= 0.0 && d <= 1.0 })
  }

  test("local index: recall@10 vs brute force on gaussian data >= 0.9") {
    val rnd = new scala.util.Random(3)
    val base = (0 until 1000).map(i => i.toLong -> Array.fill(32)(rnd.nextGaussian()))
    val idx = new HnswIndex(seed = 5)
    base.foreach { case (id, v) => idx.insert(id, v) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      1.0 - math.max(d / (na * nb), 0.0)
    }
    val queries = (0 until 30).map(_ => Array.fill(32)(rnd.nextGaussian()))
    val recalls = queries.map { q =>
      val exact = base.map { case (id, v) => (cos(q, v), id) }.sorted.take(10).map(_._2).toSet
      val approx = idx.search(q, 10).map(_._1).toSet
      (exact intersect approx).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 = $mean")
  }

  test("heuristic selection (Alg 4): recall on CLUSTERED data >= 0.9 and >= simple - 0.05") {
    // clustered gaussians are the case Alg 4 exists for: simple selection
    // crowds all M links into the local cluster; the diversity rule keeps
    // cross-cluster links so navigation between clusters survives
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(32)(rnd.nextGaussian() * 3.0))
    def point() = {
      val c = centers(rnd.nextInt(centers.length))
      c.zip(Array.fill(32)(rnd.nextGaussian() * 0.3)).map { case (a, b) => a + b }
    }
    val base = (0 until 1200).map(i => i.toLong -> point())
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      1.0 - math.max(d / (na * nb), 0.0)
    }
    val queries = (0 until 40).map(_ => point())
    def meanRecall(idx: HnswIndex): Double = {
      val rs = queries.map { q =>
        val exact = base.map { case (id, v) => (cos(q, v), id) }.sorted.take(10).map(_._2).toSet
        val approx = idx.search(q, 10).map(_._1).toSet
        (exact intersect approx).size / 10.0
      }
      rs.sum / rs.size
    }
    val simple = new HnswIndex(seed = 5)
    val heur = new HnswIndex(seed = 5, heuristic = true)
    base.foreach { case (id, v) => simple.insert(id, v); heur.insert(id, v) }
    val (rs, rh) = (meanRecall(simple), meanRecall(heur))
    assert(rh >= 0.9, s"heuristic recall@10 = $rh")
    assert(rh >= rs - 0.05, s"heuristic $rh much worse than simple $rs")
  }

  test("sharded spark hnsw: every query answered with k ascending rows") {
    val df = HnswKnn.topKBatch(spark, sf0001, k = 10).cache()
    val (_, queries, _, _) = ExactKnn.split(spark, sf0001)
    val nq = queries.count()
    val perQ = df.groupBy("qid").count().collect()
    assert(perQ.length == nq)
    assert(perQ.forall(_.getLong(1) == 10))
    // rk dense 1..10 per query
    val bad = df.groupBy("qid").agg(min("rk").as("mn"), max("rk").as("mx"))
      .filter(col("mn") =!= 1 || col("mx") =!= 10).count()
    assert(bad == 0)
  }

  test("sharded spark hnsw: recall@10 vs exact oracle >= 0.85") {
    val hnsw = HnswKnn.topKBatch(spark, sf0001).select("qid", "vec_id")
    val exact = ExactKnn.topKBatch(spark, sf0001).select("qid", "vec_id")
    val r = Evaluation.recall(hnsw, exact).collect()(0).getDouble(0)
    assert(r >= 0.85, s"recall@10 = $r")
    val p = Evaluation.precision(hnsw, exact).collect()(0).getDouble(0)
    assert(p >= 0.85, s"precision@10 = $p")
  }

  test("build-once search-many: persisted index answers repeated batches") {
    import spark.implicits._
    val (base, queries, _, _) = ExactKnn.split(spark, sf0001)
    val index = HnswKnn.buildIndex(base).persist()
    try {
      val qs = queries.as[(Long, Array[Double])].collect()
      val first = HnswKnn.searchIndex(index, qs.take(5)).collect().toSet
      val second = HnswKnn.searchIndex(index, qs.take(5)).collect().toSet
      assert(first == second, "same persisted index must answer identically")
      // a different batch against the same built graphs
      val third = HnswKnn.searchIndex(index, qs.drop(5).take(3))
      assert(third.select("qid").distinct().count() == 3)
    } finally index.unpersist()
  }

  test("incremental insert: new vectors become searchable in their shard") {
    import spark.implicits._
    val (base, _, splitAt, _) = ExactKnn.split(spark, sf0001)
    val cut = splitAt * 3 / 4
    val head = base.filter(col("vec_id") < cut)
    val tail = base.filter(col("vec_id") >= cut)
    // non-default shard count: the routing modulus travels inside the
    // index, so inserts land in the same shards the build used
    val built = HnswKnn.buildIndex(head, shards = 5)
    val extended = HnswKnn.insertIntoIndex(built, tail)
    assert(extended.shards == 5)
    val probe = tail.orderBy("vec_id").limit(3)
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) => (id, v) }
    assert(probe.length == 3, s"no tail rows above vec_id $cut")
    // querying with an inserted vector itself must return it at distance 0
    val hits = HnswKnn.searchIndex(extended, probe, k = 1)
      .select("qid", "vec_id", "dist").collect()
    probe.foreach { case (id, _) =>
      val row = hits.find(_.getLong(0) == id).get
      assert(row.getLong(1) == id && row.getDouble(2) == 0.0,
        s"inserted vector $id not its own nearest neighbor: $row")
    }
  }

  test("insert equals a full build when the new ids follow the old, and " +
      "leaves the input index as it was") {
    import spark.implicits._
    val (base, queries, splitAt, _) = ExactKnn.split(spark, sf0001)
    val cut = splitAt * 3 / 4
    val qs = queries.as[(Long, Array[Double])].collect()
    def answers(ix: HnswKnn.HnswDistIndex) =
      HnswKnn.searchIndex(ix, qs, 10, 100).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    // per-shard levels and edge counts: a graph grown from another RNG
    // state holds the same vectors and may answer alike, but links apart
    def shape(ix: HnswKnn.HnswDistIndex) =
      ix.placed.mapValues(_.stats).collect().sortBy(_._1).toSeq
    val built = HnswKnn.buildIndex(base.filter(col("vec_id") < cut), 5).persist()
    val full = HnswKnn.buildIndex(base, 5).persist()
    try {
      val before = answers(built)
      val extended = HnswKnn.insertIntoIndex(built,
        base.filter(col("vec_id") >= cut))
      val want = answers(full)
      def differ(a: Seq[(Long, Long, Double, Int)]) =
        s"${a.diff(want).size} of ${want.size} rows differ from the full build"
      assert(before != want, "the head-only index already answers like " +
        "the full build; the comparison below would prove nothing")
      // per shard the tail ids sort after the head ids, so the insert
      // continues the build's insert order and RNG stream exactly
      val got = answers(extended)
      assert(got == want, differ(got))
      assert(shape(extended) == shape(full))
      val after = answers(built)
      assert(after == before, s"insertIntoIndex mutated its input: " +
        s"${after.diff(before).size} of ${before.size} rows changed")
    } finally { built.unpersist(); full.unpersist() }
  }

  test("array and DataFrame search forms return equal rows and schema") {
    import spark.implicits._
    val (base, queries, _, _) = ExactKnn.split(spark, sf0001)
    val qs = queries.as[(Long, Array[Double])].collect()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    for (shards <- Seq(4, 5, 16)) {
      val index = HnswKnn.buildIndex(base, shards).persist()
      try for (k <- Seq(1, 10, 50)) {
        val viaArray = HnswKnn.searchIndex(index, qs, k, 100)
        val viaFrame = HnswKnn.searchIndex(index, queries, k, 100)
        assert(viaArray.schema == viaFrame.schema, s"shards=$shards k=$k")
        val (a, f) = (rows(viaArray), rows(viaFrame))
        assert(a.nonEmpty && a == f, s"shards=$shards k=$k")
      } finally index.unpersist()
    }
  }

  test("the one-wave merge rounds dist exactly like Spark's round(_, 6)") {
    import spark.implicits._
    // exact 6-decimal halves (HALF_UP and HALF_EVEN differ on the even
    // ones), signed zero, and the non-finite values Spark passes through
    val xs = Seq(0.0000005, -0.0000005, 1.2345665, 1.2345675, -1.2345665,
      0.0000015, 2.5e-7, 123456.0000005, 0.0, -0.0, 1e300,
      Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    val viaSpark = xs.toDF("x").select(round(col("x"), 6)).as[Double].collect()
    for ((x, r) <- xs.zip(viaSpark)) {
      val mine = ShardedIndex.round6(x)
      assert(java.lang.Double.doubleToLongBits(mine) ==
        java.lang.Double.doubleToLongBits(r), s"round6($x) = $mine, Spark: $r")
    }
  }

  test("save/load round-trips the shard graphs bit-for-bit") {
    import spark.implicits._
    val (base, queries, _, _) = ExactKnn.split(spark, sf0001)
    val index = HnswKnn.buildIndex(base).persist()
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-hnsw").toString
      HnswKnn.saveIndex(index, dir)
      val loaded = HnswKnn.loadIndex(spark, dir)
      assert(loaded.shards == index.shards,
        "routing modulus must survive the checkpoint")
      val qs = queries.as[(Long, Array[Double])].collect().take(8)
      val before = HnswKnn.searchIndex(index, qs).collect().toSet
      val after = HnswKnn.searchIndex(loaded, qs).collect().toSet
      assert(before == after, "reloaded index must answer identically")
    } finally index.unpersist()
  }

  test("declared lifecycle query equals the in-memory batch, bit for bit") {
    val inMemory = HnswKnn.topKBatch(spark, sf0001).collect().toSet
    val lifecycle = HnswKnn.topKBatchLifecycle(spark, sf0001).collect().toSet
    assert(lifecycle == inMemory,
      "save->load->search must answer exactly like the in-memory index")
    assert(inMemory.nonEmpty)
  }

  test("filtered ANN: only-matching labels, k-bounded, recall vs exact") {
    val got = HnswKnn.topKBatchFiltered(spark, sf0001).cache()
    // every returned id must satisfy the predicate
    val emb = Tables.embeddings(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("label"))
    assert(got.join(emb, "vec_id")
      .filter(org.apache.spark.sql.functions.col("label") =!= 3).count() == 0)
    // bounded at k per query
    assert(got.groupBy("qid").count()
      .filter(org.apache.spark.sql.functions.col("count") > 10).count() == 0)
    val exact = ExactKnn.topKBatchFiltered(spark, sf0001)
      .select("qid", "vec_id")
    val recall = Evaluation.recall(got.select("qid", "vec_id"), exact)
      .head.getDouble(0)
    assert(recall >= 0.6, s"filtered recall $recall below 0.6")
    got.unpersist()
  }

  test("evaluation identities: recall(X,X) = precision(X,X) = 1.0") {
    val ex = ExactKnn.topKBatch(spark, sf0001).select("qid", "vec_id")
    assert(Evaluation.recall(ex, ex).collect()(0).getDouble(0) == 1.0)
    assert(Evaluation.precision(ex, ex).collect()(0).getDouble(0) == 1.0)
    val n = Evaluation.intersectionCount(ex, ex).collect()(0).getLong(0)
    assert(n == ex.count())
  }

  test("index stats: shards cover the base, degree bounds hold") {
    val (base, _, _, _) = ExactKnn.split(spark, sf0001)
    val rows = HnswKnn.indexStats(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.map(_._2.toLong).sum == base.count())
    rows.foreach { case (_, n, maxLvl, l0, tot, meanDeg) =>
      assert(maxLvl >= 0 && maxLvl <= 3) // maxLevel=4 -> levels 0..3
      assert(l0 <= n.toLong * 32, "layer-0 degree exceeds mMax bound")
      assert(tot >= l0 && (n <= 1 || meanDeg > 0.0))
    }
  }

  test("ef sweep: recall is monotone non-decreasing in ef") {
    val rows = Evaluation.hnswEfSweep(spark, sf0001)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    assert(rows.map(_._1).sameElements(Array(10, 50, 100)))
    rows.sliding(2).foreach {
      case Array((_, a), (_, b)) => assert(b >= a - 1e-9, rows.mkString(","))
      case _ => ()
    }
    assert(rows.last._2 >= 0.85, s"recall@ef=100 ${rows.last._2}")
  }

  /** The shard-harness cases, registered once per graph family: the
    * HNSW names carry no prefix, the Vamana ones "vamana: ".
    */
  private def harnessCases[G <: ShardGraph[G]](knn: ShardedKnn[G],
      prefix: String): Unit = {

    test(prefix + "build and insert shuffle only vectors, and the input " +
        "index stays cached") {
      import spark.implicits._
      val (base, queries, _, _) = ExactKnn.split(spark, sf0001)
      val nBase = base.count()
      var index: ShardedIndex[G] = null
      val build = QueryMetrics.measure(spark) {
        index = knn.buildIndex(base, shards = 4)
        index.placed.count()
      }
      try {
        assert(build.jobs == 1 && build.shuffleRecordsWritten == nBase, build)
        val rows = queries.as[(Long, Array[Double])].collect().take(6)
        val added = rows.toSeq.toDF("vec_id", "emb")
        var next: ShardedIndex[G] = null
        val insert = QueryMetrics.measure(spark) {
          next = knn.insertIntoIndex(index, added)
          next.placed.count()
        }
        assert(insert.jobs == 1 && insert.shuffleRecordsWritten == rows.length,
          insert)
        assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
          i.id == index.graphs.id && i.numCachedPartitions == index.shards),
          "the input index's placed graphs are no longer cached")
        next.unpersist()
      } finally index.unpersist()
    }

    test(prefix + "one-wave serve batch: one job, no shuffle, also after a " +
        "cache release re-persists placed") {
      import spark.implicits._
      val (base, queries, _, _) = ExactKnn.split(spark, sf0001)
      val qs = queries.as[(Long, Array[Double])].collect().take(8)
      val index = knn.buildIndex(base, shards = 4).persist()
      try {
        val placed = index.placed
        placed.count()
        val m0 = QueryMetrics.measure(spark)(knn.searchIndex(index, qs).collect())
        assert(m0.jobs == 1 && m0.shuffleBytesWritten == 0, m0)
        val legs = Seq[(String, () => Unit)](
          "array" -> (() => knn.searchIndex(index, qs).collect()),
          "DataFrame" -> (() => knn.searchIndex(index, queries, 10, 100).collect()))
        for ((leg, search) <- legs) {
          // Bench.releaseCaches: drop every cached relation and RDD
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          assert(placed.getStorageLevel == StorageLevel.NONE)
          search()
          assert(index.placed eq placed, leg)
          assert(placed.getStorageLevel == StorageLevel.MEMORY_AND_DISK, leg)
          assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
            i.id == placed.id && i.numCachedPartitions == index.shards),
            s"the $leg search after the release cached every shard graph again")
        }
        val m = QueryMetrics.measure(spark)(knn.searchIndex(index, qs).collect())
        assert(m.jobs == 1 && m.shuffleBytesWritten == 0, m)
      } finally {
        index.unpersist()
        IndexCache.clear() // later suites rebuild from scratch
      }
    }

    test(prefix + "a reloaded index is placed like the built one: partition " +
        "i holds only shard i") {
      val (base, _, _, _) = ExactKnn.split(spark, sf0001)
      val index = knn.buildIndex(base, shards = 5)
      val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
      knn.saveIndex(index, dir)
      val loaded = knn.loadIndex(spark, dir)
      try {
        assert(loaded.placed.partitioner ==
          Some(new org.apache.spark.HashPartitioner(5)))
        val where = loaded.placed
          .mapPartitionsWithIndex((i, it) => it.map(p => (i, p._1))).collect()
        assert(where.map(_._2).sorted.toSeq == (0 until 5), where.toSeq)
        assert(where.forall { case (i, s) => i == s }, where.toSeq)
      } finally loaded.unpersist()
    }
  }

  harnessCases(HnswKnn, "")
  harnessCases(VamanaKnn, "vamana: ")

  test("vamana: insert leaves the input index answering as before") {
    import spark.implicits._
    val (base, queries, splitAt, _) = ExactKnn.split(spark, sf0001)
    val cut = splitAt * 3 / 4
    val qs = queries.as[(Long, Array[Double])].collect()
    def answers(ix: ShardedIndex[VamanaIndex]) =
      VamanaKnn.searchIndex(ix, qs, 10, 100).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    val built = VamanaKnn.buildIndex(base.filter(col("vec_id") < cut), 5).persist()
    try {
      val before = answers(built)
      val extended = VamanaKnn.insertIntoIndex(built,
        base.filter(col("vec_id") >= cut)).persist()
      try {
        assert(answers(extended) != before, "the insert changed no answer; " +
          "the check below would prove nothing")
        val after = answers(built)
        assert(after == before, s"insertIntoIndex mutated its input: " +
          s"${after.diff(before).size} of ${before.size} rows changed")
      } finally extended.unpersist()
    } finally built.unpersist()
  }

  test("vamana: topKAfterInsert caches only the grown index") {
    IndexCache.clear()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    VamanaKnn.topKAfterInsert(spark, sf0001).collect()
    val grown = IndexCache.getOrBuild[ShardedIndex[VamanaIndex]](spark,
      "vamana-ins", sf0001, 16)(fail("topKAfterInsert memoized no grown index"))
    val cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSeq
    assert(cached == Seq(grown.graphs.id),
      s"cached RDDs $cached, want only the grown index ${grown.graphs.id}")
  }
}
