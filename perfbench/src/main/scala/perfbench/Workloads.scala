package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.knn.{ExactKnn, HnswKnn}
import graft.knn.HnswKnn.HnswDistIndex
import graft.operators.{Dedup, Evaluation, Pipeline}
import graft.sources.Ingest

/** The two workloads. Each one runs untimed warm-up iterations, calls
  * [[Run.startMeasuring]], repeats its iteration until the run's
  * seconds are used, and checks outputs outside the timed intervals.
  * Every iteration starts cold: memos and persisted relations are
  * dropped first.
  *
  * Samples every workload records:
  *  - `pass_s`: one cold iteration (the reference pipeline, searches
  *    and an insert for ann_build_serve; curation plus the query mix for
  *    curation_analytics)
  *  - `op_ms`: one client request (a search batch for ann_build_serve, a
  *    declared query for curation_analytics)
  * and the values `quality` and `cache_mb`.
  */
object Workloads {
  val K = 10
  /** Search beam width, below the engine's default of 100: at ef=100 the
    * pipeline's recall@10 reads 1.0 with the engine's 16 shards and 0.999
    * with one shard per core, so a quality loss would barely show.
    */
  val Ef = 24
  val BatchSize = 8
  val SearchesPerInsert = 16
  val InsertSize = 32

  /** One index shard per core. */
  def shards(run: Run): Int = run.spark.sparkContext.defaultParallelism

  def apply(name: String): Run => Unit = name match {
    case "ann_build_serve" => annBuildServe
    case "curation_analytics" => curationAnalytics
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** (vec_id, embedding) of a generated parquet file, in this JVM. */
  def readVectors(run: Run, file: String): Array[(Long, Array[Double])] =
    run.spark.read.parquet(s"${run.dir}/$file")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Top-k rows (qid, vec_id, dist) ordered by query, then rank. */
  def ranked(df: DataFrame): Array[(Long, Long, Double)] =
    df.select("qid", "vec_id", "dist", "rk").collect()
      .sortBy(r => (r.getLong(0), r.getInt(3)))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  /** Untimed warm-up iterations before the first timed one. One: a
    * second costs about a pass of set-up that the run's time budget
    * spends on measuring instead. The JIT still speeds up the first timed
    * passes; the median over a run's passes absorbs that.
    */
  val WarmUps = 1

  /** [[WarmUps]] warm-up iterations, then timed ones until the run's
    * seconds are used, each after dropping every cache.
    */
  private def iterate(run: Run)(iteration: => Unit): Unit = {
    (1 to WarmUps).foreach { _ => run.clearCaches(); iteration }
    run.startMeasuring()
    while (run.measuring) {
      run.clearCaches()
      iteration
    }
    run.value("cache_mb", run.cacheMb())
    run.stopMeasuring()
  }

  // ----------------------------------------------------- ann_build_serve

  /** What one cold pipeline pass leaves for the checks. */
  final case class Built(nBase: Long, nQuery: Long, splitAt: Long,
      exact: DataFrame, found: DataFrame, recall: Double, index: HnswDistIndex)

  /** The reference pipeline, cold: ingest + split, exact ground truth,
    * HNSW build and placement, search of every held-out query, recall.
    */
  def pipeline(run: Run): Built = {
    val spark = run.spark
    val dir = run.dir
    val span = run.span
    val (nBase, nQuery) = span("ingest.read_ndjson") {
      val df = Ingest.readNdjson(spark, s"$dir/embeddings.ndjson", Int.MaxValue)
      val (b, q) = Ingest.splitDataset(df, 0.95)
      (b.count(), q.count())
    }
    val (base, queries, splitAt, _) = span("knn.split")(ExactKnn.split(spark, dir))
    val exact = span("knn.exact_topk")(ExactKnn.topKBatch(spark, dir, K))
    val index = span("knn.hnsw_build") {
      val ix = HnswKnn.buildIndex(base, shards(run)).persist()
      ix.graphs.count()
      ix.placed.count()
      ix
    }
    val found = span("knn.hnsw_search_all") {
      val r = HnswKnn.searchIndex(index, queries, K, Ef).persist()
      r.count()
      r
    }
    val recall = span("eval.recall")(Evaluation.recall(found, exact).head().getDouble(0))
    Built(nBase, nQuery, splitAt, exact, found, recall, index)
  }

  /** Build cold, then serve: each iteration runs the reference pipeline,
    * then sends [[SearchesPerInsert]] batches of [[BatchSize]] held-out
    * queries to the new index with one insert of [[InsertSize]] vectors
    * from the insert pool halfway, which re-places the index the second
    * half searches.
    */
  def annBuildServe(run: Run): Unit = {
    val spark = run.spark
    val span = run.span
    val all = readVectors(run, "embeddings.parquet")
    val pool = readVectors(run, "inserts.parquet")
    val n = all.length.toLong
    val splitAt0 = math.round(0.95 * n)
    val held = new scala.util.Random(run.seed).shuffle(all.filter(_._1 >= splitAt0).toSeq)
    var built: Built = null
    var index: HnswDistIndex = null
    var searches = 0
    var inserted = 0
    var insertedHere = Array.empty[(Long, Array[Double])]

    def search(): Unit = {
      val batch = Array.tabulate(BatchSize)(j => held((searches * BatchSize + j) % held.size))
      searches += 1
      run.timed(span("knn.hnsw_search")(ranked(HnswKnn.searchIndex(index, batch, K, Ef))))
        .foreach { case (rows, s) =>
          if (span.recording) run.sample("op_ms", s * 1e3)
          run.check("hnsw.shape", Checks.wellFormed(rows, batch.map(_._1).toSeq, K),
            s"batch ${batch.map(_._1).toSeq}: ${rows.toSeq}")
        }
    }
    def insert(): Unit = {
      val rows = pool.slice(inserted, inserted + InsertSize)
      inserted += rows.length
      import spark.implicits._
      val df = rows.toSeq.toDF("vec_id", "emb")
      run.timed(span("knn.hnsw_insert") {
        val next = HnswKnn.insertIntoIndex(index, df).persist()
        next.graphs.count()
        next.placed.count()
        next
      }).foreach { case (next, s) =>
        if (span.recording) run.sample("insert_ms", s * 1e3)
        index.unpersist()
        index = next
        insertedHere ++= rows
      }
    }
    def iteration(): Unit = {
      val t = System.nanoTime()
      run.timed(pipeline(run)).foreach { case (b, _) =>
        built = b
        index = b.index
        insertedHere = Array.empty
        (1 to SearchesPerInsert / 2).foreach(_ => search())
        if (inserted + InsertSize <= pool.length) insert()
        (1 to SearchesPerInsert / 2).foreach(_ => search())
        if (span.recording) run.sample("pass_s", (System.nanoTime() - t) / 1e9)
      }
    }
    iterate(run)(iteration())

    val lines = scala.io.Source.fromFile(s"${run.dir}/embeddings.ndjson")
    val nLines = try lines.getLines().size finally lines.close()
    val Built(nBase, nQuery, splitAt, exact, found, recall, _) = built
    run.value("quality", recall)
    run.value("kept_frac", (nBase + nQuery).toDouble / nLines)
    run.check("ingest.rows", nBase + nQuery == n, s"ingested ${nBase + nQuery} of $n")
    run.check("ingest.split", nBase == splitAt0 && splitAt == nBase,
      s"split at $nBase / $splitAt, want $splitAt0")
    // brute-force ground truth for a seeded sample of the held-out queries
    val base = all.filter(_._1 < splitAt)
    val truth = base.toMap
    val sample = held.take(32)
    val got = ranked(exact.filter(col("qid").isin(sample.map(_._1): _*))).groupBy(_._1)
    sample.foreach { case (qid, qv) =>
      val want = Checks.topK(qv, base, K)
      val g = got.getOrElse(qid, Array.empty).toSeq.map(r => (r._2, r._3))
      run.check("exact.topk", Checks.sameTopK(g, want, id => Checks.dist(qv, truth(id))),
        s"query $qid: engine $g, brute force $want")
    }
    run.check("hnsw.shape", Checks.wellFormed(ranked(found), splitAt until n, K),
      "search rows are not k per query in ascending distance")
    // recall@10 of the served index against brute force over base ∪ inserted
    val served = base ++ insertedHere
    val probe = held.take(64).toArray
    val hits = ranked(HnswKnn.searchIndex(index, probe, K, Ef)).groupBy(_._1)
    val found10 = probe.map { case (qid, qv) =>
      val want = Checks.topK(qv, served, K).map(_._1).toSet
      hits.getOrElse(qid, Array.empty).count(r => want(r._2))
    }.sum
    run.value("serve_recall", found10.toDouble / (probe.length * K))
    run.check("serve.inserted", insertedHere.nonEmpty, "no insert ran")
  }

  // -------------------------------------------------- curation_analytics

  /** Planted duplicates: exact groups and near-duplicate pairs. */
  def planted(dir: String): (Seq[Seq[Long]], Seq[(Long, Long)]) = {
    val src = scala.io.Source.fromFile(s"$dir/planted.txt")
    val lines = try src.getLines().toList finally src.close()
    val parsed = lines.map(_.split(" ").toList)
    (parsed.collect { case "exact" :: ids => ids.map(_.toLong) },
      parsed.collect { case "near" :: a :: b :: Nil => (a.toLong, b.toLong) })
  }

  /** Declared queries whose oracle is SQL, by the layer that runs them. */
  val Mix: Seq[(String, String)] = Seq(
    "q1_pricing_summary", "q6_forecast_revenue", "orders_customer_ltv",
  ).map(_ -> "query.relational") ++ Seq(
    "events_tumbling", "events_sessions",
  ).map(_ -> "query.events") ++ Seq(
    "stats_benford_digits",
  ).map(_ -> "query.stats")

  /** Curate a corpus, then report on it: each pass starts cold, runs
    * near-duplicate dedup and the curation manifest over the documents,
    * then the declared analytics [[Mix]] over the star schema in a
    * seeded order. `op_ms` samples one declared query.
    */
  def curationAnalytics(run: Run): Unit = {
    val spark = run.spark
    val dir = run.dir
    val span = run.span
    val declared = graft.SparkEntry.queries
    val order = new scala.util.Random(run.seed).shuffle(Mix)
    var manifest: Array[Long] = Array.empty
    def pass(): Unit = {
      val t = System.nanoTime()
      span("dedup.minhash_pairs")(Dedup.minhashLshPairs(spark, dir))
      span("dedup.clusters")(Dedup.nearDupClusters(spark, dir))
      manifest = span("pipeline.curation") {
        Pipeline.endToEndCuration(spark, dir).select("doc_id").collect().map(_.getLong(0))
      }
      if (span.recording) run.sample("curation_s", (System.nanoTime() - t) / 1e9)
      order.foreach { case (name, layer) =>
        run.timed(span(layer)(declared(name)(spark, dir).collect()))
          .foreach { case (_, s) => if (span.recording) run.sample("op_ms", s * 1e3) }
      }
    }
    iterate(run) {
      run.timed(pass()).foreach { case (_, s) => if (span.recording) run.sample("pass_s", s) }
    }

    val rep = Dedup.nearDupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (groups, pairs) = planted(dir)
    val kept = manifest.toSet
    groups.foreach { g =>
      run.check("dedup.exact_group",
        g.map(rep).distinct.size == 1 && g.count(kept) <= 1,
        s"group $g: reps ${g.map(rep)}, ${g.count(kept)} in the manifest")
    }
    // precision: the generator's other texts are random draws and never
    // near-duplicates, so every cluster lies within one planted group,
    // one planted pair or one unplanted document
    val unit = (groups ++ pairs.map { case (a, b) => Seq(a, b) }).zipWithIndex
      .flatMap { case (ids, u) => ids.map(_ -> (-1L - u)) }.toMap
    rep.groupBy(_._2).foreach { case (r, members) =>
      val ids = members.keys.toSeq.sorted
      run.check("dedup.precision", ids.map(id => unit.getOrElse(id, id)).distinct.size == 1,
        s"cluster $r merges ${ids.size} documents across planted units: ${ids.take(12)}")
    }
    run.value("quality", pairs.count { case (a, b) => rep(a) == rep(b) }.toDouble / pairs.size)
    run.check("pipeline.manifest", manifest.nonEmpty && manifest.distinct.length == manifest.length,
      s"manifest has ${manifest.length} rows, ${manifest.distinct.length} distinct")

    // each query's result goes to parquet beside its oracle SQL, for the
    // DuckDB replay run.py makes
    val oracle = graft.SparkEntry.oracleSql
    val sql = Mix.map { case (name, _) =>
      declared(name)(spark, dir).coalesce(1).write.parquet(s"$dir/out/$name")
      s"${Main.str(name)}: ${Main.str(oracle(name))}"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/out/oracle_sql.json"),
      sql.mkString("{", ",\n", "}").getBytes("UTF-8"))
  }
}
