package graft.knn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.IndexCache

/** SQ8 scalar-quantization ANN (FAISS's IndexScalarQuantizer family):
  * each dimension linearly quantized to one byte against per-dimension
  * [min, max] bounds learned in one pass — 8x compression on double
  * vectors (the standard first lever before PQ's 64x), with the
  * [[TwoStage]] cut and exact re-rank, same as [[PqKnn]].
  *
  * Scale notes:
  *   - Training is a per-partition min/max fold reduced on the driver:
  *     2 x dim doubles per partition cross the wire, one scan.
  *   - Encoding is map-only; the code table is dim bytes per vector.
  *   - Scoring decodes on the fly in a typed tight loop (no HOFs) per
  *     (code row, query) pair, streamed past the resident code
  *     partitions by [[TwoStage.replicatedScan]] — PqKnn's ADC scan
  *     without the codebook indirection.
  */
object SqKnn {

  /** Per-dimension [min, max] bounds (the "codebook"). */
  final case class SqBounds(mins: Array[Double], maxs: Array[Double])

  /** One pass over the base vectors: fold per-partition min/max arrays,
    * reduce driver-side (2 x dim doubles per partition).
    */
  def trainBounds(base: DataFrame): SqBounds = {
    import base.sparkSession.implicits._
    val folded = base.select("emb").as[Array[Double]]
      .mapPartitions { it =>
        var mins: Array[Double] = null
        var maxs: Array[Double] = null
        it.foreach { v =>
          if (mins == null) { mins = v.clone(); maxs = v.clone() }
          else {
            var i = 0
            val n = math.min(v.length, mins.length)
            while (i < n) {
              if (v(i) < mins(i)) mins(i) = v(i)
              if (v(i) > maxs(i)) maxs(i) = v(i)
              i += 1
            }
          }
        }
        if (mins == null) Iterator.empty else Iterator.single((mins, maxs))
      }.collect()
    val mins = folded.map(_._1).reduce { (a, b) =>
      a.zip(b).map(t => math.min(t._1, t._2)) }
    val maxs = folded.map(_._2).reduce { (a, b) =>
      a.zip(b).map(t => math.max(t._1, t._2)) }
    SqBounds(mins, maxs)
  }

  /** Byte code for x in dimension i: round(255 (x-min)/(max-min)),
    * clamped; degenerate dimensions (max == min) encode 0.
    */
  private def encodeOne(v: Array[Double], mins: Array[Double],
      maxs: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      val span = maxs(i) - mins(i)
      val b = if (span <= 0) 0
              else math.max(0, math.min(255,
                math.round(255.0 * (v(i) - mins(i)) / span).toInt))
      out(i) = b.toByte
      i += 1
    }
    out
  }

  /** Map-only encode of (vec_id, emb) to (vec_id, codes). */
  def encode(base: DataFrame, bounds: SqBounds): DataFrame = {
    import base.sparkSession.implicits._
    val bc = base.sparkSession.sparkContext.broadcast(bounds)
    base.select("vec_id", "emb").as[(Long, Array[Double])]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (id, v) => (id, encodeOne(v, b.mins, b.maxs)) }
      }.toDF("vec_id", "codes")
  }

  /** Approximate cosine distance between a decoded code row and a raw
    * query vector, in one fused loop (decode + dot + norms).
    */
  private[knn] def approxDist(codes: Array[Byte], qv: Array[Double],
      mins: Array[Double], maxs: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(codes.length, qv.length)
    while (i < n) {
      val span = maxs(i) - mins(i)
      val x = mins(i) + (codes(i) & 0xff) / 255.0 * span
      dot += x * qv(i); na += x * x; nb += qv(i) * qv(i)
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0) 1.0 else 1.0 - math.max(dot / denom, 0.0)
  }

  /** Top-k for every held-out query: the fused decode+cosine score of
    * every (code row, query) pair in a [[TwoStage.replicatedScan]],
    * cut and exactly re-ranked by [[TwoStage.search]]. Output: (qid,
    * vec_id, dist rounded 6, rk) — same shape as [[ExactKnn.topKBatch]].
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10,
      overfetch: Int = 16): DataFrame = {
    import spark.implicits._
    val (base, queries, _, _) = ExactKnn.split(spark, dir)
    val bounds = IndexCache.getOrBuild(spark, "sq", dir)(trainBounds(base))
    val codes = IndexCache.persisted(spark, "sq", dir, "codes")(
      encode(base, bounds))
    val bcBounds = spark.sparkContext.broadcast(bounds)
    val scored = TwoStage.replicatedScan(
        codes.as[(Long, Array[Byte])].rdd, queries) { qv =>
      val b = bcBounds.value
      cs => approxDist(cs, qv, b.mins, b.maxs)
    }
    TwoStage.search(scored, k, overfetch, base, queries)
  }
}
