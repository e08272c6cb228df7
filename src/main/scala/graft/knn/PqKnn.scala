package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.IndexCache

/** Product-quantization ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compression scale
  * path complementing the graph ([[HnswKnn]]), partition-pruning
  * ([[IvfKnn]]) and projection ([[RandomProjection]]) families:
  *
  *   - base vectors are L2-normalized and split into `m` subvectors;
  *     each subspace gets a `ksub`-centroid codebook (k-means on a
  *     driver-side sample — PQ training on a bounded sample is the
  *     standard practice, the full pass is only the ENCODE step);
  *   - every vector compresses to `m` byte codes (64-dim doubles:
  *     512 B -> 8 B, 64x). At 100 TB of raw embeddings the codes are
  *     ~1.6 TB — the difference between a scan that thrashes disk and
  *     one that fits the cluster's page cache;
  *   - search is asymmetric (ADC): the query stays full-precision; one
  *     m x ksub lookup table of subspace dot products per query turns
  *     each candidate's approximate cosine into `m` byte-indexed adds —
  *     no decode, no sqrt, no per-candidate multiplication;
  *   - the PQ scan overfetches `overfetch * k` candidates which are
  *     exactly re-ranked (same rounded-distance contract as every other
  *     kNN path), so approximation error costs recall only when the
  *     true neighbor falls outside the overfetch, never precision of
  *     the reported distances.
  *
  * Everything is seeded/deterministic: codebook seeds are the first
  * distinct subvectors in vec_id order, Lloyd runs a fixed iteration
  * count, ties break on lowest centroid index.
  */
object PqKnn {

  /** Codebooks: codebooks(j)(c) is centroid c of subspace j. */
  final case class PqCodebooks(m: Int, dim: Int, books: Array[Array[Array[Double]]])

  private def l2normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v.clone() else v.map(_ / n)
  }

  private def sub(v: Array[Double], j: Int, sd: Int): Array[Double] =
    java.util.Arrays.copyOfRange(v, j * sd, (j + 1) * sd)

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Nearest codebook entry by squared euclidean (ties: lowest index). */
  private def nearestCode(book: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val d = sqDist(book(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Train per-subspace codebooks on a driver-side sample of the
    * (normalized) base vectors. Sample size is bounded, so driver
    * memory is O(sample x dim) at any corpus size.
    */
  def trainCodebooks(base: DataFrame, m: Int = 8, ksub: Int = 256,
      iters: Int = 4, sampleRows: Int = 10000): PqCodebooks = {
    import base.sparkSession.implicits._
    val sample = base.select(col("vec_id"), col("emb"))
      .orderBy("vec_id").limit(sampleRows)
      .as[(Long, Array[Double])].collect().map(r => l2normalize(r._2))
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sd = dim / m
    val books = Array.tabulate(m) { j =>
      val xs = sample.map(v => sub(v, j, sd))
      // seeds: first ksub DISTINCT subvectors in row order
      val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
      xs.iterator.takeWhile(_ => seen.size < ksub).foreach(x => seen += x.toSeq)
      var cents = seen.iterator.map(_.toArray).toArray
      for (_ <- 0 until iters) {
        val sums = Array.fill(cents.length)(new Array[Double](sd))
        val counts = new Array[Long](cents.length)
        xs.foreach { x =>
          val c = nearestCode(cents, x)
          var i = 0
          while (i < sd) { sums(c)(i) += x(i); i += 1 }
          counts(c) += 1
        }
        cents = Array.tabulate(cents.length) { c =>
          if (counts(c) == 0) cents(c)
          else { val s = sums(c); s.map(_ / counts(c)) }
        }
      }
      cents
    }
    PqCodebooks(m, dim, books)
  }

  /** (vec_id, codes) — every base vector as `m` byte codes (map-only
    * over a broadcast of the codebooks).
    */
  def encode(base: DataFrame, cb: PqCodebooks): DataFrame = {
    import base.sparkSession.implicits._
    val bc = base.sparkSession.sparkContext.broadcast(cb)
    base.select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val b = bc.value
        val sd = b.dim / b.m
        it.map { case (id, v) =>
          val nv = l2normalize(v)
          val codes = new Array[Byte](b.m)
          var j = 0
          while (j < b.m) {
            codes(j) = nearestCode(b.books(j), sub(nv, j, sd)).toByte
            j += 1
          }
          (id, codes)
        }
      }.toDF("vec_id", "codes")
  }

  /** Per-query ADC lookup table: lut(j)(c) = dot(q̂_j, books(j)(c)). */
  private[knn] def queryLut(cb: PqCodebooks,
      qv: Array[Double]): Array[Array[Double]] = {
    val sd = cb.dim / cb.m
    val nq = l2normalize(qv)
    Array.tabulate(cb.m) { j =>
      val qj = sub(nq, j, sd)
      cb.books(j).map { c =>
        var s = 0.0; var i = 0
        while (i < sd) { s += qj(i) * c(i); i += 1 }
        s
      }
    }
  }

  /** Approximate cosine similarity of a full-precision query against a
    * code row via the query's lookup table: sim ≈ Σ_j lut(j)(code_j).
    */
  private[knn] def adcSim(lut: Array[Array[Double]], codes: Array[Byte]): Double = {
    var s = 0.0; var j = 0
    while (j < codes.length) { s += lut(j)(codes(j) & 0xff); j += 1 }
    s
  }

  /** The (qid, lut) relation: one FLATTENED row-major ADC table per
    * query row, computed executor-side (map-only over the query split
    * with the codebooks broadcast — query vectors never visit the
    * driver). Stride is `ksub` even when a subspace trained fewer
    * centroids (codes can never index the padding).
    */
  private[knn] def queryLutsDF(queries: DataFrame, cb: PqCodebooks,
      ksub: Int): DataFrame = {
    import queries.sparkSession.implicits._
    val bcCb = queries.sparkSession.sparkContext.broadcast(cb)
    queries.select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val b = bcCb.value
        it.map { case (qid, qv) =>
          val lut = queryLut(b, qv)
          val flat = new Array[Double](b.m * ksub)
          var j = 0
          while (j < b.m) {
            val row = lut(j)
            // a codebook row longer than the stride would silently
            // bleed into subspace j+1's slots — fail loudly instead
            require(row.length <= ksub,
              s"codebook row ${row.length} exceeds stride ksub=$ksub")
            var c = 0
            while (c < row.length) { flat(j * ksub + c) = row(c); c += 1 }
            j += 1
          }
          (qid, flat)
        }
      }.toDF("qid", "lut")
  }

  /** Top-k for every held-out query: PQ-scored overfetch over the code
    * table, then exact re-rank of the candidates. Output: (qid, vec_id,
    * dist rounded 6, rk) — same shape as [[ExactKnn.topKBatch]].
    *
    * Fully distributed query side (same mechanism as
    * [[HnswKnn.searchIndex]]): query rows are replicated to every code
    * partition in one shuffle and zipPartitions streams them past the
    * partition's resident codes — one ADC table per (partition, query)
    * computed on the executor, task memory = one cached code partition
    * + one in-flight query. No query vector or LUT ever crosses the
    * driver, at any query-split size.
    */
  /** The per-dataset (codebooks, persisted codes) pair, built once —
    * shared by the search paths and the distortion report.
    */
  private[knn] def cachedIndex(spark: SparkSession, dir: String,
      m: Int = 8, ksub: Int = 256): (PqCodebooks, DataFrame) = {
    val (base, _, _, _) = ExactKnn.split(spark, dir)
    val b = IndexCache.getOrBuild(spark, "pq", dir, m, ksub)(
      trainCodebooks(base, m, ksub))
    (b, IndexCache.persisted(spark, "pq", dir, m, ksub, "codes")(
      encode(base, b)))
  }

  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      m: Int = 8, ksub: Int = 256, overfetch: Int = 16): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val (cb, codes) = cachedIndex(spark, dir, m, ksub)
    searchCodes(cb, codes, base, queries, k, overfetch)
  }

  /** The distributed ADC scan + exact re-rank over a (codebooks, codes)
    * pair — shared verbatim by the in-memory and reloaded index paths,
    * so the lifecycle round-trip cannot drift from the live index.
    */
  private def searchCodes(cb: PqCodebooks, codes: DataFrame,
      base: DataFrame, queries: DataFrame, k: Int,
      overfetch: Int): DataFrame =
    searchCodesWith(cb, codes, queries, base, queries, k, overfetch)

  /** [[searchCodes]] with the coarse-scan query frame decoupled from
    * the re-rank frames — [[OpqKnn]] scans with ROTATED queries
    * (matching its rotated codebooks) but re-ranks in the ORIGINAL
    * space (cosine is rotation-invariant, so the exact leg stays
    * bit-identical to every other family's).
    */
  private[knn] def searchCodesWith(cb: PqCodebooks, codes: DataFrame,
      scanQueries: DataFrame, rerankBase: DataFrame,
      rerankQueries: DataFrame, k: Int, overfetch: Int): DataFrame = {
    val cand = coarseScan(cb, codes, scanQueries, k, overfetch)
      .select("qid", "vec_id")
    ExactKnn.rerank(cand, rerankBase, rerankQueries, k)
  }

  /** The ADC coarse scan alone, candidates RANKED — (qid, vec_id, rk),
    * rk over (approx_dist asc, vec_id asc) cut at `overfetch * k`. A
    * smaller overfetch's candidate set is exactly the rk-prefix of a
    * larger one (same sort keys, same ties), which is what lets the
    * overfetch sweep pay for ONE scan.
    */
  private[knn] def coarseScan(cb: PqCodebooks, codes: DataFrame,
      scanQueries: DataFrame, k: Int, overfetch: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cb)
    val codesRdd = codes.as[(Long, Array[Byte])].rdd
    val numP = codesRdd.getNumPartitions
    val qrep = scanQueries.select(col("vec_id"), col("emb"))
      .as[(Long, Array[Double])].rdd
      .flatMap(q => Iterator.range(0, numP).map(p => (p, q)))
      .partitionBy(new org.apache.spark.HashPartitioner(numP))
    val scoredRdd = codesRdd.zipPartitions(qrep) { (cit, qit) =>
      val local = cit.toArray // one cached code partition per task
      val b = bcCb.value
      qit.flatMap { case (_, (qid, qv)) =>
        val lut = queryLut(b, qv)
        local.iterator.map { case (id, cs) =>
          (qid, id, 1.0 - math.max(adcSim(lut, cs), 0.0))
        }
      }
    }
    val scored = spark.createDataset(scoredRdd)
      .toDF("qid", "vec_id", "approx_dist")
    graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("approx_dist" -> true, "vec_id" -> true), overfetch * k)
  }

  /** Ranked coarse candidates for every held-out query at `overfetch`
    * depth, over the memoized (codebooks, codes) index — the shared
    * scan the overfetch sweep's arms prefix-cut. Output:
    * (qid, vec_id, rk).
    */
  private[graft] def coarseCandidates(spark: SparkSession, dir: String,
      k: Int = 10, m: Int = 8, ksub: Int = 256,
      overfetch: Int = 16): DataFrame = {
    val (_, queries, _, _) = ExactKnn.split(spark, dir)
    val (cb, codes) = cachedIndex(spark, dir, m, ksub)
    coarseScan(cb, codes, queries, k, overfetch)
  }

  /** Persist the PQ index: codebooks flatten to a tiny
    * (j, c, dim, centroid) parquet; the byte-code table writes as-is
    * (the 64×-compressed form IS the index payload — at 100 TB of raw
    * vectors this checkpoint is ~1.6 TB and the raw embeddings never
    * need to be re-read to serve searches, only to re-rank survivors).
    */
  def saveIndex(cb: PqCodebooks, codes: DataFrame, path: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    val rows = for (j <- 0 until cb.m; c <- cb.books(j).indices)
      yield (j, c, cb.dim, cb.books(j)(c).toSeq)
    rows.toDF("j", "c", "dim", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Reload a [[saveIndex]] checkpoint (codebooks are m×ksub rows — a
    * driver-side read like IVF centroids; codes stay distributed).
    */
  def loadIndex(spark: SparkSession, path: String): (PqCodebooks, DataFrame) = {
    import spark.implicits._
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .as[(Int, Int, Int, Seq[Double])].collect()
    val m = cbRows.map(_._1).max + 1
    val books = Array.tabulate(m) { j =>
      cbRows.filter(_._1 == j).sortBy(_._2).map(_._4.toArray)
    }
    (PqCodebooks(m, cbRows.head._3, books),
      spark.read.parquet(s"$path/codes"))
  }

  /** Declared end-to-end PQ LIFECYCLE (build → save → load → search),
    * completing the Index-trait checkpoint surface across the graph
    * (HNSW), routing (IVF), and compression (PQ) families. Bit-equal
    * to [[topKBatch]] by construction (same [[searchCodes]] body);
    * PqKnnSpec pins the equality. The save is memoized per dataset and
    * charged to bench_build_pq_ckpt; the reloaded index is memoized too
    * (`pq-reloaded`), so after the first call this query times the probe.
    */
  def topKBatchLifecycle(spark: SparkSession, dir: String, k: Int = 10,
      m: Int = 8, ksub: Int = 256, overfetch: Int = 16): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val path = IndexCache.checkpoint(spark, "pq", dir, m, ksub) { p =>
      val (cb, codes) = cachedIndex(spark, dir, m, ksub)
      saveIndex(cb, codes, p)
    }
    val (cb, enc) = IndexCache.getOrBuild(spark, "pq-reloaded", dir, m,
      ksub)(loadIndex(spark, path))
    val codes = IndexCache.persisted(spark, "pq-reloaded", dir, m, ksub,
      "codes")(enc)
    searchCodes(cb, codes, base, queries, k, overfetch)
  }
}
