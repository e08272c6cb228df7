package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.knn.ExactKnn

/** STREAMING vector search — the online-serving shape of the kNN
  * surface: query vectors arrive as a stream and are scored against
  * the standing base corpus without ever batching the query set.
  *
  * Both serving rows are STATELESS in streaming terms (append mode,
  * no watermark, no state store): each arriving micro-batch of query
  * vectors runs the corresponding BATCH search via `foreachBatch` —
  * the range scan broadcasts the (tiny) query batch against the
  * distributed base; the HNSW top-k scatter-gathers against the
  * pinned shard partitions. In both, the CORPUS side stays
  * partitioned where it lives and only the query wave moves — the
  * orientation that survives 1e9 vectors (neither the raw corpus nor
  * the full index fits on any single executor or the driver).
  * Deterministic because every query arrives in exactly one
  * micro-batch and per-query results are independent — so streamed ==
  * batch and each row shares its batch twin's oracle under the hash
  * gate.
  */
object VectorStream {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Result-sink root for a foreachBatch-written serving stream,
    * registered for JVM-exit deletion (the returned DataFrame reads it
    * lazily, so eager deletion is impossible).
    */
  private def resultDir(prefix: String): String =
    EventStream.cleanupOnExit(
      java.nio.file.Files.createTempDirectory(prefix)).toString

  /** foreachBatch is AT-LEAST-ONCE: a retried micro-batch (task or
    * stage failure after a partial/complete write) re-runs the whole
    * batch function. Blind `mode("append")` would then duplicate
    * output rows and break the streamed == batch exactness both
    * serving sinks declare under the hash gate. Writing each batch to
    * its OWN `batch=<id>` subdirectory with `mode("overwrite")` makes
    * the retry idempotent: the replay clobbers exactly its own
    * earlier partial output and nothing else — the standard
    * exactly-once-by-idempotence contract for file sinks.
    */
  private def writeBatchIdempotent(batch: DataFrame, outDir: String,
      batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  /** Read a foreachBatch result sink back, tolerating the zero-batch
    * case (an empty query split produces no files, where a blind
    * `read.parquet` dies on schema inference). The `batch=<id>`
    * partition column is discovery-added and dropped by the caller's
    * final projection.
    */
  private def readResultSink(spark: SparkSession, outDir: String,
      schema: StructType): DataFrame = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(outDir))
    val hasFiles =
      try s.anyMatch(p => p.toString.endsWith(".parquet")) finally s.close()
    if (hasFiles) spark.read.parquet(outDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The file stream source tails a DIRECTORY; stage the fixture file
    * into one, once per (session, dataset).
    */
  private def stagedEmbeddingsDir(spark: SparkSession, dir: String): String = {
    val src = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    graft.IndexCache.getOrBuild(spark, "embeddings-stream-dir", dir) {
      if (java.nio.file.Files.isDirectory(src)) src.toString
      else {
        val d = java.nio.file.Files.createTempDirectory("graft-emb-stream")
        java.nio.file.Files.copy(src, d.resolve("embeddings.parquet"))
        d.toString
      }
    }
  }

  /** Streamed [[ExactKnn.rangeSearch]] (shares `knn_range_search`'s
    * oracle): held-out query vectors flow through the file stream
    * source and each micro-batch runs the BATCH range scan inside
    * `foreachBatch` — the (micro-batch-small) QUERY side broadcasts
    * against the DISTRIBUTED base scan, the distance predicate
    * evaluates in the broadcast NLJ, and qualifying pairs land
    * executor-side in an append parquet sink.
    *
    * Scale shape: the previous form broadcast the BASE corpus to every
    * executor — inverted at 1e9 vectors (the corpus fits on no
    * executor, while a micro-batch of queries is always tiny). This
    * form keeps the corpus partitioned where it lives and ships only
    * the query wave — the same direction as the batch
    * [[ExactKnn.rangeSearch]] and the scatter-gather HNSW serving
    * below. Stateless, append-mode; every (query, base) pair is scored
    * exactly once regardless of micro-batch splits, so streamed ==
    * batch under the shared oracle. Output: (qid, vec_id, dist).
    */
  def rangeSearchStreamed(spark: SparkSession, dir: String,
      radius: Double = 0.7, nq: Int = 20): DataFrame = {
    val staged = stagedEmbeddingsDir(spark, dir)
    val (base, _, splitAt, _) = ExactKnn.split(spark, dir)
    val b = base.select(col("vec_id"), col("emb"))
    val outDir = resultDir("graft-range-serve")
    val outSchema = StructType(Seq(
      StructField("qid", LongType), StructField("vec_id", LongType),
      StructField("dist", DoubleType)))
    EventStream.withStreamPartitions(spark, 4, noData = false) {
      val q = spark.readStream.schema(embSchema).parquet(staged)
        .filter(col("vec_id") >= splitAt && col("vec_id") < splitAt + nq)
        .select(col("vec_id").as("qid"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
            .as("qvec"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          writeBatchIdempotent(
            b.crossJoin(broadcast(batch))
              .select(col("qid"), col("vec_id"),
                ExactKnn.dist(col("emb"), col("qvec")).as("dist"))
              .filter(col("dist") <= radius),
            outDir, batchId)
          ()
        }
        .option("checkpointLocation", EventStream.ckptDir("graft-ckpt-knn-q"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    readResultSink(spark, outDir, outSchema)
      .select(col("qid"), col("vec_id"), col("dist"))
  }

  /** Micro-batches served through the distributed scatter-gather path
    * since JVM start — EventStreamSpec pins that streamed HNSW serving
    * actually ran through [[graft.knn.HnswKnn.searchIndex]] (no
    * driver-side graph materialization path exists any more; this
    * counter proves the replacement executed).
    */
  val scatterGatherBatches = new java.util.concurrent.atomic.AtomicLong(0L)

  /** STREAMING ANN serving over the HNSW index — the production
    * serving-tier shape: the shard graphs stay PINNED to their fixed
    * executor partitions ([[graft.knn.ShardedIndex.placed]] —
    * placement decided once per index), and each arriving micro-batch
    * of query vectors runs the SAME distributed scatter-gather as the
    * batch path ([[graft.knn.HnswKnn.searchIndex]] inside
    * `foreachBatch`): queries replicate to the shard partitions, probe
    * the local graph, and merge per-query top-k through the
    * bounded-heap rank. No shard graph ever visits the driver and no
    * executor holds more than its own shard — at 1e9 vectors the index
    * fits on NEITHER, which is why the previous whole-index
    * collect+broadcast replica was a scale-killer (r6 verdict #3).
    * Results land executor-side in an append parquet sink, never the
    * driver.
    *
    * Identical round-then-rank tie-break ((dist rounded 6, vec_id)
    * ascending) as batch — each query arrives in exactly one
    * micro-batch, so streamed == batch EXACTLY and the row shares
    * `knn_hnsw_batch`'s generated-literal oracle under the hash gate.
    * EventStreamSpec pins the equality and the scatter-gather counter.
    * Output: (qid, vec_id, dist, rk).
    */
  def hnswTopKStreamed(spark: SparkSession, dir: String, k: Int = 10,
      ef: Int = 100, shards: Int = 16): DataFrame = {
    val staged = stagedEmbeddingsDir(spark, dir)
    val (_, _, splitAt, _) = graft.knn.ExactKnn.split(spark, dir)
    // same memo as the batch path: one build serves both
    val index = graft.knn.HnswKnn.memoIndex(spark, dir, shards)
    val outDir = resultDir("graft-hnsw-serve")
    val outSchema = StructType(Seq(
      StructField("qid", LongType), StructField("vec_id", LongType),
      StructField("dist", DoubleType), StructField("rk", IntegerType)))
    EventStream.withStreamPartitions(spark, 4, noData = false) {
      val q = spark.readStream.schema(embSchema).parquet(staged)
        .filter(col("vec_id") >= splitAt)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
            .as("emb"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          writeBatchIdempotent(
            graft.knn.HnswKnn.searchIndex(index, batch, k, ef)
              .select(col("qid"), col("vec_id"), col("dist"), col("rk")),
            outDir, batchId)
          scatterGatherBatches.incrementAndGet()
          ()
        }
        .option("checkpointLocation", EventStream.ckptDir("graft-ckpt-hnswq"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    readResultSink(spark, outDir, outSchema)
      .select(col("qid"), col("vec_id"), col("dist"), col("rk"))
  }

  /** STREAMING k-means assignment — index maintenance at ingestion
    * time: vectors arriving through the file stream source are
    * assigned to their nearest trained centroid INSIDE the ingest
    * micro-batch, so the clustered index table is always as fresh as
    * the corpus (the batch re-assignment job a 100 TB pipeline would
    * otherwise schedule is gone; this is the same ingestion-time shape
    * as [[graft.streaming.CorpusStream]]'s incremental dedup).
    *
    * The model ([[graft.operators.EmbeddingStats.kmeansCentroids]],
    * k·d quantized longs) is driver-tiny and broadcast; each arriving
    * vector quantizes with the exact training formula and takes one
    * integer argmin — stateless, append-mode, zero shuffle, zero
    * state store, so the streamed assignment is a pure per-row
    * function and equals the batch
    * [[graft.operators.EmbeddingStats.kmeansAssignments]] no matter
    * how the source splits micro-batches. It therefore shares
    * `emb_kmeans`'s unrolled-Lloyd DuckDB oracle under the hash gate,
    * and EventStreamSpec pins streamed == batch row equality.
    * Output: (vec_id, cid, d2) — d2 the exact integer squared
    * distance in quantized space.
    */
  def kmeansAssignStreamed(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, q: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val staged = stagedEmbeddingsDir(spark, dir)
    val cents = graft.operators.EmbeddingStats.kmeansCentroids(
      spark, dir, k, iters, q)
    val bc = spark.sparkContext.broadcast(cents)
    val name = s"graft_kmeans_stream_${EventStream.streamRunSeq.incrementAndGet()}"
    EventStream.withStreamPartitions(spark, 4, noData = false) {
      val assigned = spark.readStream.schema(embSchema).parquet(staged)
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => round(x * q, 0).cast("long")).as("qv"))
        .as[(Long, Array[Long])]
        .map { case (id, v) =>
          val (c, d2) = graft.operators.EmbeddingStats.nearest(bc.value, v)
          (id, c, d2)
        }
        .toDF("vec_id", "cid", "d2")
      val sq = assigned.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", EventStream.ckptDir("graft-ckpt-kmeans"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    val out = spark.table(name).select(col("vec_id"), col("cid"), col("d2"))
    out.queryExecution.assertAnalyzed()
    spark.catalog.dropTempView(name)
    out
  }
}
