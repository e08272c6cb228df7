package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.IndexCache

/** Binary (1-bit sign) quantization ANN — the most compressed member of
  * the engine's quantization family (next to SQ8's 8-bit
  * [[SqKnn]] and PQ's codebook [[PqKnn]]): each dimension collapses to
  * its sign bit, a 64-dim vector becomes ONE 64-bit word, and the coarse
  * distance is a single `XOR` + `popcount` per comparison. Candidates
  * mined under Hamming distance are then cut and re-ranked exactly by
  * [[TwoStage.search]], like every compressed family.
  *
  * Sign-at-zero is the right quantizer here because the fixture
  * embeddings are zero-centered per dimension (measured |mean| < 1e-4);
  * a centered corpus is also the production norm (most embedding models
  * emit roughly zero-mean dims). Keeping the threshold a constant (not a
  * trained per-dim mean) makes the whole index deterministic with no
  * training pass at all — insertion is stateless, so the code table can
  * be maintained incrementally by any writer.
  *
  * Scale notes (100 TB thinking):
  *   - 64x compression: the 100 TB float corpus scans as ~1.6 TB of
  *     codes — the coarse pass reads ONE LONG per row, and the XOR +
  *     `bit_count` compare stays inside whole-stage codegen (both are
  *     codegen'd built-ins; no UDF, no boxing).
  *   - Map-only coarse scan: query codes broadcast (8 bytes per query),
  *     per-query candidates cut by [[TwoStage.candidates]]'s bounded
  *     heap, so the shuffle carries (qid, id, hamming) triples — never
  *     the codes, never the vectors.
  *   - Exact re-rank touches only (queries x k x overfetch) full
  *     vectors via an id equi-join against the base table.
  *   - Deterministic end to end: constant quantizer, integer Hamming
  *     distances (no FP at the coarse stage at all), vec_id tie-break.
  */
object BinaryQuantKnn {

  /** (vec_id, code) — pack sign bits of up to 64 dims into one long.
    * Map-only typed loop (a HOF would interpret per element; the loop
    * compiles to straight-line JVM code).
    */
  def encode(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
      .map { case (id, v) =>
        var code = 0L
        var i = 0
        val n = math.min(v.length, 64)
        while (i < n) { if (v(i) > 0.0) code |= (1L << i); i += 1 }
        (id, code)
      }.toDF("vec_id", "code")
  }

  /** (vec_id, code0..code{w-1}) — `nBits` random-hyperplane sign bits
    * packed into w = nBits/64 SEPARATE long columns (not an array), so
    * the coarse Hamming distance stays a sum of codegen'd
    * `bit_count(XOR)` terms — same whole-stage-codegen property as the
    * one-word [[encode]], w x the fidelity. Planes are seeded Gaussian
    * (deterministic, training-free like the sign quantizer; insertion
    * stays stateless for any writer holding the seed).
    */
  def encodeWide(df: DataFrame, nBits: Int, seed: Long = 11L): DataFrame = {
    require(nBits % 64 == 0, s"nBits must pack whole words, got $nBits")
    val words = nBits / 64
    val spark = df.sparkSession
    import spark.implicits._
    val dim = df.select(col("emb")).as[Array[Double]].head().length
    val rng = new java.util.Random(seed)
    val planes = Array.fill(nBits, dim)(rng.nextGaussian())
    val bc = spark.sparkContext.broadcast(planes)
    df.select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
      .map { case (id, v) =>
        val ps = bc.value
        val code = new Array[Long](words)
        var b = 0
        while (b < ps.length) {
          val p = ps(b)
          var dot = 0.0
          var i = 0
          while (i < v.length && i < p.length) { dot += v(i) * p(i); i += 1 }
          if (dot > 0.0) code(b / 64) |= (1L << (b % 64))
          b += 1
        }
        (id, code.toSeq)
      }.toDF("vec_id", "codes")
      .select(col("vec_id") +:
        (0 until words).map(i => col("codes")(i).as(s"code$i")): _*)
  }

  /** Top-k per held-out query: Hamming-space candidate mining over the
    * packed codes, cut and re-ranked by [[TwoStage.search]]. Output:
    * (qid, vec_id, dist, rk) — the recall-evaluation shape shared by
    * every ANN family.
    *
    * Overfetch is high (16x) for the same reason as
    * [[RandomProjection.topKBatch]]: near-random fixture geometry gives
    * tiny neighbor margins, and a 1-bit code keeps only the orthant.
    * The candidate FRACTION k·overfetch/n vanishes as n grows — and so,
    * eventually, does recall: with a FIXED 64-bit code the Hamming
    * ranking's resolution is constant while the number of competing
    * rows is not (ScaleSpec measures the decay at 10x sf0.1). The scale
    * path is [[topKBatchWide]]: more planes, not more overfetch.
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      overfetch: Int = 16): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)

    // the code table is the scan target: materialized once
    val codes = IndexCache.persisted(spark, "bq", dir)(encode(base))
    val qCodes = broadcast(encode(queries)
      .select(col("vec_id").as("qid"), col("code").as("qcode")))

    val scored = codes.crossJoin(qCodes).select(col("qid"), col("vec_id"),
      bit_count(col("code").bitwiseXOR(col("qcode"))).as("coarse"))
    TwoStage.search(scored, k, overfetch, base, queries)
  }

  /** [[topKBatch]] on `nBits`-plane codes (default 256 = 4 long words):
    * the BQ family's SCALE operating point. Wider codes keep the
    * coarse Hamming ranking's angular resolution ahead of the growing
    * candidate population, so a constant overfetch holds recall as n
    * grows (ScaleSpec pins >= 0.6 at 10x sf0.1, where the 64-bit code
    * has already decayed) — while the scan stays w longs per row
    * (8x compression at 256 bits on 64-dim floats) and every coarse
    * compare remains codegen'd bit_count(XOR) terms.
    */
  def topKBatchWide(spark: SparkSession, dir: String, k: Int = 10,
      overfetch: Int = 16, nBits: Int = 256): DataFrame = {
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val words = nBits / 64

    val codes = IndexCache.persisted(spark, "bq-wide", dir, nBits)(
      encodeWide(base, nBits))
    val qCodes = broadcast(encodeWide(queries, nBits)
      .select(col("vec_id").as("qid") +:
        (0 until words).map(i => col(s"code$i").as(s"qcode$i")): _*))

    val hamming = (0 until words).map(i =>
        bit_count(col(s"code$i").bitwiseXOR(col(s"qcode$i"))))
      .reduce(_ + _).as("coarse")
    TwoStage.search(
      codes.crossJoin(qCodes).select(col("qid"), col("vec_id"), hamming),
      k, overfetch, base, queries)
  }
}
