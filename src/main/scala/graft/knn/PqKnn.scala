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
  *   - the ADC scan's candidates are cut and exactly re-ranked by
  *     [[TwoStage]] (same rounded-distance contract as every other kNN
  *     path), so approximation error costs recall only when the true
  *     neighbor misses the cut, never precision of the reported
  *     distances.
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

  /** Top-k for every held-out query: the ADC scan over the code table,
    * cut and exactly re-ranked by [[TwoStage.search]]. Output: (qid,
    * vec_id, dist rounded 6, rk) — same shape as [[ExactKnn.topKBatch]].
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      m: Int = 8, ksub: Int = 256, overfetch: Int = 16): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val (cb, codes) = cachedIndex(spark, dir, m, ksub)
    TwoStage.search(adcScan(cb, codes, queries), k, overfetch, base, queries)
  }

  /** The ADC coarse scan, (qid, vec_id, coarse = 1 - clamped approximate
    * cosine), as a [[TwoStage.replicatedScan]]: one lookup table per
    * (code partition, query), built on the executor, so no query vector
    * or table crosses the driver. [[OpqKnn]] passes ROTATED queries
    * (matching its rotated codebooks).
    */
  private[knn] def adcScan(cb: PqCodebooks, codes: DataFrame,
      queries: DataFrame): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cb)
    TwoStage.replicatedScan(codes.as[(Long, Array[Byte])].rdd, queries) { qv =>
      val lut = queryLut(bcCb.value, qv)
      cs => 1.0 - math.max(adcSim(lut, cs), 0.0)
    }
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
    TwoStage.candidates(adcScan(cb, codes, queries), k, overfetch)
  }

  /** Declared end-to-end PQ LIFECYCLE (build → save → load → search):
    * the memoized (codebooks, codes) index goes through
    * [[IndexFiles.reloaded]], and the ADC scan reads the reloaded code
    * table through. Bit-equal to [[topKBatch]] by construction (same
    * [[adcScan]] and [[TwoStage.search]]); PqKnnSpec pins the equality.
    * The save is charged to bench_build_pq_ckpt.
    */
  def topKBatchLifecycle(spark: SparkSession, dir: String, k: Int = 10,
      m: Int = 8, ksub: Int = 256, overfetch: Int = 16): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val (cb, codes) = IndexFiles.reloaded(spark, "pq", dir, m, ksub)(
      cachedIndex(spark, dir, m, ksub))
    TwoStage.search(adcScan(cb, codes, queries), k, overfetch, base, queries)
  }
}
