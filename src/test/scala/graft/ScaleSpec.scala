package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Scale-shape proof beyond the read-only fixtures (the r5 gap: no
  * evidence above sf0.1): generate a deterministic clustered embeddings
  * table at 1x and 10x the sf0.1 row count in a temp dir — the same
  * (vec_id, embedding, label) schema, so every `dir`-keyed entry point
  * runs on it unchanged — and pin the properties that matter at 100 TB:
  *
  *   - the LSH dedup path inspects a vanishing FRACTION of the pair
  *     space as n grows (the candidate set is driven by bucket
  *     collisions, not n(n-1)/2);
  *   - planted near-duplicates still surface at 10x (recall does not
  *     decay with scale);
  *   - the compressed-scan ANN family (BQ) holds its recall gate at 10x
  *     against the SAMPLED exact ground truth — the O(n) evaluation
  *     mode that is the only affordable one at scale.
  *
  * Wall-clock is deliberately NOT asserted (CI noise); the asserts are
  * record counts and result quality, which are deterministic.
  */
class ScaleSpec extends SparkSpec {

  /** Write a clustered synthetic embeddings table: `centers` seeded unit
    * centroids, each vector = normalize(center + noise * gaussian).
    * Deterministic per vec_id regardless of partitioning (per-row RNG
    * seeded from the id, not the partition).
    */
  private def generate(spark: SparkSession, n: Int, dim: Int = 64,
      centers: Int = 50, noise: Double = 1.0, seed: Long = 42L): String = {
    import spark.implicits._
    val dir = graft.streaming.OneShot.tempDir(s"graft-scale-$n")
    val centerVecs: Array[Array[Double]] = Array.tabulate(centers) { c =>
      val r = new java.util.Random(seed * 7919L + c)
      val v = Array.fill(dim)(r.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val bc = spark.sparkContext.broadcast(centerVecs)
    spark.range(n).as[Long].mapPartitions { it =>
      val cs = bc.value
      it.map { id =>
        val r = new java.util.Random(seed ^ (id * 2654435761L))
        val label = (id % cs.length).toInt
        val c = cs(label)
        val v = Array.tabulate(c.length)(i => c(i) + noise * r.nextGaussian())
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(x => (x / nrm).toFloat), label)
      }
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val dir1x = generate(spark, 2000)   // sf0.1's row count
  private lazy val dir10x = generate(spark, 20000) // 10x that

  test("LSH dedup inspects a vanishing fraction of the pair space at 10x") {
    def fraction(dir: String): (Long, Double) = {
      val planted = Dedup.plantedNormalizedEmbeddings(spark, dir)
      val rows = planted.count()
      val cand = Dedup.lshCandidatePairs(planted, 64, 16, 16).count()
      (cand, cand.toDouble / (rows.toDouble * (rows - 1) / 2))
    }
    val (c1, f1) = fraction(dir1x)
    val (c10, f10) = fraction(dir10x)
    assert(c1 > 0 && c10 > 0)
    // the pruned FRACTION must not degrade with scale: fixed 16-bit
    // bands keep background collisions at ~bands/2^16 of all pairs
    // regardless of n, so 10x data may NOT approach all-pairs behavior
    assert(f10 < 0.005, s"10x candidate fraction $f10 (candidates=$c10)")
    assert(f10 <= f1 * 2.0,
      s"pruning degraded with scale: f1=$f1 f10=$f10")
  }

  test("planted near-duplicates all surface at 10x (no recall decay)") {
    // the kernel over the UNSAMPLED planted universe (the declared row
    // since r14 runs the same kernel over the deterministic ≤4000-
    // vector panel so its quadratic oracle replays at derived tiers;
    // the full-universe recall property lives here)
    val out = Dedup.embeddingNearDupLshNormalized(
      Dedup.plantedNormalizedEmbeddings(spark, dir10x), dim = 64,
      threshold = 0.98, bands = 16, rowsPerBand = 16)
      .select(col("vec_a"), col("vec_b"))
    // every planted pair is (id, id + 100000) — 20k of them
    val planted = spark.range(20000)
      .select(col("id").as("vec_a"), (col("id") + 100000L).as("vec_b"))
    val missed = planted.exceptAll(out).count()
    assert(missed == 0, s"$missed of 20000 planted pairs missed at 10x")
  }

  test("BQ at 10x: 64-bit sign codes decay, 256-bit hyperplane codes " +
      "hold recall against sampled GT") {
    import spark.implicits._
    val gt = knn.ExactKnn.topKBatchSampled(spark, dir10x)
      .select("qid", "vec_id")
    // the sampled-GT mode really is O(n): 1-in-10 of the 1000 held-out
    // queries brute-forced, the rest never touched
    assert(gt.select("qid").distinct().count() == 100)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      operators.Evaluation.recall(df.select("qid", "vec_id"), gt)
        .as[Double].head()
    // fixed 64-bit resolution vs 10x the competing rows: the decay this
    // spec exists to catch (constant-factor surprise invisible at sf0.1)
    val narrow = recallOf(knn.BinaryQuantKnn.topKBatch(spark, dir10x))
    // the declared scale path: 4x the planes, same constant overfetch
    val wide = recallOf(knn.BinaryQuantKnn.topKBatchWide(spark, dir10x))
    info(s"recall@10 at 10x: 64-bit=$narrow 256-bit=$wide")
    assert(wide >= 0.6, s"256-bit BQ recall at 10x = $wide")
    assert(wide > narrow,
      s"wider codes must out-rank the sign code at 10x: $wide vs $narrow")
  }

  test("Vamana at 10x: the flat graph holds recall against sampled GT") {
    import spark.implicits._
    val gt = knn.ExactKnn.topKBatchSampled(spark, dir10x)
      .select("qid", "vec_id")
    val vam = knn.VamanaKnn.topKBatch(spark, dir10x)
      .select("qid", "vec_id")
    val r = operators.Evaluation.recall(vam, gt).as[Double].head()
    info(s"vamana recall@10 at 10x: $r")
    assert(r >= 0.85, s"vamana recall at 10x = $r")
  }

  test("OPQ at 10x: rotated codebooks hold recall on clustered data") {
    import spark.implicits._
    val gt = knn.ExactKnn.topKBatchSampled(spark, dir10x)
      .select("qid", "vec_id")
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      operators.Evaluation.recall(df.select("qid", "vec_id"), gt)
        .as[Double].head()
    // the clustered generator is exactly the anisotropic regime the
    // eigenvalue-allocation rotation exists for: OPQ must hold the
    // family gate and not regress materially against plain PQ
    val pq = recallOf(knn.PqKnn.topKBatch(spark, dir10x))
    val opq = recallOf(knn.OpqKnn.topKBatch(spark, dir10x))
    info(s"recall@10 at 10x: pq=$pq opq=$opq")
    assert(opq >= 0.6, s"OPQ recall at 10x = $opq")
    assert(opq >= pq - 0.05,
      s"rotation must not cost recall at 10x: opq=$opq vs pq=$pq")
    // this fixture is near-isotropic per coordinate, so distortion may
    // only tie — the strict win is pinned on the anisotropic table below
    val mse = knn.OpqKnn.quantizationDistortion(spark, dir10x).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    info(s"mse at 10x: pq=${mse("pq")} opq=${mse("opq")}")
    assert(mse("opq") <= mse("pq") * 1.01,
      s"rotation must not materially raise distortion: $mse")
  }

  /** An axis-aligned spectrum-decayed table: coordinate i carries
    * variance 1/(1+i/4)² — the regime where coordinate-BLOCK PQ is
    * maximally wasteful (its first block holds ALL the dominant dims
    * and gets the same 256 codes as the near-empty last block) and
    * OPQ's balanced eigenvalue allocation redistributes one dominant
    * dim per subspace.
    */
  private lazy val dirAniso: String = {
    import spark.implicits._
    val dir = graft.streaming.OneShot.tempDir("graft-aniso")
    val dim = 64
    spark.range(2000).as[Long].mapPartitions { it =>
      it.map { id =>
        val r = new java.util.Random(id * 2654435761L + 11L)
        val v = Array.tabulate(dim)(i => r.nextGaussian() / (1.0 + i / 4.0))
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(x => (x / nrm).toFloat), (id % 50).toInt)
      }
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("OPQ on anisotropic data: the rotation strictly lowers distortion") {
    val mse = knn.OpqKnn.quantizationDistortion(spark, dirAniso).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    info(s"anisotropic mse: pq=${mse("pq")} opq=${mse("opq")}")
    assert(mse("opq") < mse("pq"),
      s"eigen allocation must win on a decayed spectrum: $mse")
  }
}
