package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.knn.ExactKnn

/** Hybrid lexical + vector retrieval via reciprocal-rank fusion
  * (Cormack et al. 2009): fuse a BM25 ranking over `documents` with a
  * cosine ranking over `embeddings` (doc_id ↔ vec_id) as
  *
  *   rrf(d) = Σ_lists 1 / (kRrf + rank_list(d)),
  *
  * missing membership contributing 0. RRF needs only ranks — no score
  * normalization across incomparable scales — which is why it is the
  * standard fusion for heterogeneous retrievers.
  *
  * Scale notes: both input rankings are top-`depth` RESULTS (bounded:
  * depth rows each), so the rank windows and the full-outer fusion join
  * run on k-sized relations — the expensive work happened inside the
  * two retrievals, each already in its scale shape (BM25's broadcast
  * stats; the kNN broadcast scan / any ANN index). Fusing ANN instead
  * of exact kNN is swapping the vector leg's function.
  */
object HybridSearch {

  /** Top-`k` fused results. Output: (doc_id, rrf rounded 6, bm25_rank,
    * vec_rank) — null rank marks absence from that leg's top-`depth`.
    */
  def rrfTopK(spark: SparkSession, dir: String,
      terms: Seq[String] = TextOps.bm25GeneralTerms, queryIdx: Long = 29,
      k: Int = 20, depth: Int = 100, kRrf: Int = 60): DataFrame =
    rrfFused(spark, dir, terms, queryIdx, depth, kRrf)
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)

  /** The FUSED relation both declared hybrid rows rank (≤ 2·depth
    * rows), memoized per (dataset, query): hybrid_rrf_topk and
    * hybrid_end_to_end each re-ran BOTH retrieval legs before this
    * memo (§7.2 duplicated subtrees) — the BM25 scan and the kNN scan
    * now run once per session, and each row takes its own top-k prefix
    * of the same (rrf desc, doc_id) order.
    */
  private def rrfFused(spark: SparkSession, dir: String,
      terms: Seq[String], queryIdx: Long, depth: Int,
      kRrf: Int): DataFrame =
    graft.IndexCache.persisted(spark, "hybrid-rrf", dir, terms, queryIdx,
        depth, kRrf) {
      // lexical leg: top-`depth` BM25 docs, ranked (score desc, doc_id)
      val bm = TextOps.bm25TopKExploded(spark, dir, terms, k = depth)
        .withColumn("bm25_rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("bm25_rank"))
      // vector leg: top-`depth` neighbors of held-out query `queryIdx`,
      // ranked (dist asc, vec_id) — ExactKnn emits them ordered already
      val vec = ExactKnn.topKSingle(spark, dir, k = depth, queryIdx)
        .withColumn("vec_rank", row_number().over(
          Window.orderBy(col("dist").asc, col("vec_id").asc)))
        .select(col("vec_id").as("doc_id"), col("vec_rank"))
      // both legs are depth-bounded: the windows above and this join
      // run on k-sized inputs (single-partition windows are fine at
      // depth=100)
      bm.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(
            coalesce(lit(1.0) / (col("bm25_rank") + kRrf), lit(0.0)) +
            coalesce(lit(1.0) / (col("vec_rank") + kRrf), lit(0.0)), 6)
            .as("rrf"),
          col("bm25_rank"), col("vec_rank"))
    }

  /** The SERVING-SIDE composition flagship — the full RAG retrieval
    * pipeline under ONE plan and one hash gate: lexical BM25 top-`depth`
    * + vector top-`depth` → reciprocal-rank fusion → keep the fused
    * top-`fuseK` → RELATIONAL diversification (at most `perSource`
    * results per ingest source — the window-expressible diversity
    * constraint, unlike MMR's inherently sequential greedy) → final
    * top-`k` answer with full provenance (both leg ranks, the fused
    * score, the source). Every stage is individually green elsewhere;
    * this row proves they compose.
    *
    * Scale shape: the two retrievals carry all the data-size cost in
    * their own audited shapes (broadcast BM25 stats; bounded-heap kNN);
    * everything downstream operates on ≤ fuseK rows — the tiny fused
    * relation broadcasts INTO the documents join (the fact table never
    * shuffles), and both windows run on ≤ fuseK rows.
    * Output: (rank, doc_id, source, rrf, bm25_rank, vec_rank).
    */
  def hybridEndToEnd(spark: SparkSession, dir: String,
      terms: Seq[String] = TextOps.bm25GeneralTerms, queryIdx: Long = 29,
      k: Int = 10, depth: Int = 100, kRrf: Int = 60, fuseK: Int = 30,
      perSource: Int = 2): DataFrame = {
    val fused = rrfTopK(spark, dir, terms, queryIdx, fuseK, depth, kRrf)
    val withSrc = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(broadcast(fused), Seq("doc_id"))
    withSrc
      .withColumn("src_rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("src_rank") <= perSource)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("rank"), col("doc_id"), col("source"), col("rrf"),
        col("bm25_rank"), col("vec_rank"))
  }

  /** Maximal-marginal-relevance diversified re-ranking (Carbonell &
    * Goldstein 1998) of one query's top-`depth` exact neighbors:
    * greedily select k results maximizing
    * `λ·relevance − (1−λ)·max-similarity-to-already-selected`, so the
    * answer set trades pure proximity for coverage.
    *
    * Scale shape: the candidate FETCH is the distributed part (bounded
    * heap over the full corpus); the greedy loop then runs on the
    * `depth`-sized candidate block — ≤ depth unit vectors resident,
    * k·depth² flops, independent of corpus size (MMR's data dependence
    * chain is inherently sequential in k). Output:
    * (rank, vec_id, mmr_score rounded 6). Rows-only: pinned against a
    * reference driver-side greedy in HybridSearchSpec.
    */
  def mmrTopK(spark: SparkSession, dir: String, queryIdx: Long = 29,
      k: Int = 10, depth: Int = 50, lambda: Double = 0.7): DataFrame = {
    import spark.implicits._
    val cand = graft.knn.ExactKnn.topKSingle(spark, dir, k = depth, queryIdx)
      .join(Dedup.normalizedEmbeddings(spark, dir), "vec_id")
      .select(col("vec_id"), col("dist"), col("nv"))
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray))
      .sortBy(p => (p._2, p._1))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val remaining = scala.collection.mutable.ArrayBuffer(cand: _*)
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, dist, nv) =>
        val maxSim =
          if (chosen.isEmpty) 0.0
          else chosen.iterator.map(c => math.min(math.max(dot(nv, c), 0.0), 1.0)).max
        (id, lambda * (1.0 - dist) - (1.0 - lambda) * maxSim, nv)
      }
      val best = scored.minBy { case (id, s, _) => (-s, id) }
      selected += ((rank, best._1,
        BigDecimal(best._2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      chosen += best._3
      remaining.remove(remaining.indexWhere(_._1 == best._1))
      rank += 1
    }
    selected.toSeq.toDF("rank", "vec_id", "mmr_score")
  }
}
