package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval-quality evaluation as DataFrame ops — the reference's
  * recall/precision module (`/root/reference/src/evaluation.rs:3-15`)
  * re-expressed as a semi-join + global aggregate (SURVEY.md §2.10).
  *
  * Set membership is by (qid, vec_id) — ids are 1:1 with vectors, which
  * matches the reference's Point-equality-by-vector (`src/point.rs:12-16`).
  *
  * Scale notes: the intersection is a shuffle-free broadcast or shuffled
  * hash semi-join on narrow key pairs (never the vectors); the final
  * metric is a single global agg. Per-query variants group on qid before
  * averaging — one shuffle either way.
  */
object Evaluation {

  /** E1: |retrieved ∩ relevant| as a 1-row DataFrame (column n). */
  def intersectionCount(retrieved: DataFrame, relevant: DataFrame,
      keys: Seq[String] = Seq("qid", "vec_id")): DataFrame =
    retrieved.join(relevant, keys, "left_semi").agg(count(lit(1)).as("n"))

  /** E2: recall = |R ∩ S| / |S| (S = relevant), micro-averaged over all
    * (qid, vec_id) pairs. 1-row output (column recall, rounded 6).
    */
  def recall(retrieved: DataFrame, relevant: DataFrame,
      keys: Seq[String] = Seq("qid", "vec_id")): DataFrame = {
    val hits = retrieved.join(relevant, keys, "left_semi")
      .agg(count(lit(1)).as("hits"))
    val total = relevant.agg(count(lit(1)).as("total"))
    hits.crossJoin(total)
      .select(round(col("hits") / col("total"), 6).as("recall"))
  }

  /** E3: precision = |R ∩ S| / |R| (R = retrieved). 1-row output. */
  def precision(retrieved: DataFrame, relevant: DataFrame,
      keys: Seq[String] = Seq("qid", "vec_id")): DataFrame = {
    val hits = retrieved.join(relevant, keys, "left_semi")
      .agg(count(lit(1)).as("hits"))
    val total = retrieved.agg(count(lit(1)).as("total"))
    hits.crossJoin(total)
      .select(round(col("hits") / col("total"), 6).as("precision"))
  }

  /** Mean reciprocal rank: `retrieved` carries a 1-based rank column
    * `rk`; MRR = mean over queries of 1/rank-of-first-relevant hit
    * (0 for queries with none). 1-row output (column mrr, rounded 6).
    */
  def meanReciprocalRank(retrieved: DataFrame, relevant: DataFrame): DataFrame = {
    val firstHit = retrieved.join(relevant, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(min(col("rk")).as("first_rk"))
    retrieved.select("qid").distinct()
      .join(firstHit, Seq("qid"), "left")
      .agg(round(avg(coalesce(lit(1.0) / col("first_rk"), lit(0.0))), 6)
        .as("mrr"))
  }

  /** Mean average precision (binary relevance), macro-averaged over
    * every RETRIEVED query (same population rule as
    * [[meanReciprocalRank]]): AP(q) = Σ_{hit ranks r} precision@r
    * divided by |relevant(q)|; queries with no relevant rows score 0.
    * `retrieved` must carry (qid, vec_id, rk). 1-row output (column
    * map, rounded 6).
    */
  def meanAveragePrecision(retrieved: DataFrame,
      relevant: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = retrieved.select("qid", "vec_id", "rk")
      .join(relevant, Seq("qid", "vec_id"), "left_semi")
    val w = Window.partitionBy(col("qid")).orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ap = hits
      .withColumn("prec", count(lit(1)).over(w).cast("double") / col("rk"))
      .groupBy(col("qid")).agg(sum(col("prec")).as("sum_prec"))
    val nRel = relevant.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    retrieved.select("qid").distinct()
      .join(nRel, Seq("qid"), "left")
      .join(ap, Seq("qid"), "left")
      .agg(round(avg(
        when(col("n_rel").isNull || col("n_rel") === 0L, 0.0)
          .otherwise(coalesce(col("sum_prec"), lit(0.0)) / col("n_rel"))), 6)
        .as("map"))
  }

  /** Binary-gain nDCG@k, macro-averaged over every RETRIEVED query
    * (same population as [[meanReciprocalRank]] — queries with no
    * relevant rows score 0 instead of being dropped): DCG =
    * Σ 1/log2(rk+1) over relevant hits at rk <= k; ideal DCG places
    * the query's relevant docs at ranks 1..min(|rel|, k). 1-row
    * output (column ndcg).
    */
  def ndcgAtK(retrieved: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    val dcg = retrieved.filter(col("rk") <= k)
      .join(relevant, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(sum(lit(1.0) / log2(col("rk") + 1)).as("dcg"))
    val idcg = relevant.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
      .select(col("qid"), expr(
        s"aggregate(sequence(1, int(least(n_rel, $k))), 0.0D," +
          " (acc, i) -> acc + 1.0 / log2(double(i) + 1.0))").as("idcg"))
    retrieved.select("qid").distinct()
      .join(idcg, Seq("qid"), "left")
      .join(dcg, Seq("qid"), "left")
      .agg(round(avg(
        when(col("idcg").isNull || col("idcg") === 0.0, 0.0)
          .otherwise(coalesce(col("dcg"), lit(0.0)) / col("idcg"))), 6)
        .as("ndcg"))
  }

  /** Recall-vs-ef tuning sweep for the HNSW index: one row per ef
    * setting — the operational curve that picks the latency/recall
    * trade-off before a deployment. Ground truth and shard graphs are
    * both dataset-memoized, so the sweep's cost is |efs| searches, not
    * |efs| builds.
    */
  def hnswEfSweep(spark: SparkSession, dir: String,
      efs: Seq[Int] = Seq(10, 50, 100)): DataFrame = {
    val exact = graft.knn.ExactKnn.topKBatch(spark, dir)
      .select("qid", "vec_id")
    efs.map { ef =>
      recall(graft.knn.HnswKnn.topKBatch(spark, dir, ef = ef)
        .select("qid", "vec_id"), exact)
        .select(lit(ef).as("ef"), col("recall"))
    }.reduce(_.unionByName(_))
  }

  /** Beam-width (search list L) operating curve for the Vamana family —
    * the [[hnswEfSweep]] twin on the disk-native graphs, so the
    * flagship family carries the same recall-vs-cost tuning surface
    * (the DiskANN paper's L sweep). The shared shard graphs build once
    * (memoized); each point is a search-only pass at a different beam.
    * Output: (beam, recall), one row per swept width.
    */
  def vamanaBeamSweep(spark: SparkSession, dir: String,
      beams: Seq[Int] = Seq(10, 50, 100)): DataFrame = {
    val exact = graft.knn.ExactKnn.topKBatch(spark, dir)
      .select("qid", "vec_id")
    beams.map { l =>
      recall(graft.knn.VamanaKnn.topKBatch(spark, dir, ef = l)
        .select("qid", "vec_id"), exact)
        .select(lit(l).as("beam"), col("recall"))
    }.reduce(_.unionByName(_))
  }

  /** Re-rank depth (overfetch) operating curve for the PQ family —
    * the third tuning surface after HNSW's ef and Vamana's beam: the
    * ADC scan keeps `overfetch`·k coarse candidates per query and the
    * exact leg re-ranks them, so recall climbs with depth while the
    * re-rank cost grows linearly. The curve a deployment reads to pick
    * the smallest depth that hits its recall SLO. Codes and ground
    * truth are dataset-memoized; each point is one scan+re-rank pass.
    * Output: (overfetch, recall), one row per swept depth.
    */
  def pqOverfetchSweep(spark: SparkSession, dir: String,
      ofs: Seq[Int] = Seq(1, 4, 16), k: Int = 10): DataFrame = {
    val exact = graft.knn.ExactKnn.topKBatch(spark, dir)
      .select("qid", "vec_id")
    // ONE ADC scan at the deepest arm; every shallower arm's candidate
    // set is the rk-prefix of the same ranking (identical sort keys and
    // ties), so each arm pays only its own exact re-rank — the former
    // per-arm topKBatch re-ran the full code scan three times
    // (guide §7.2 duplicated work; PqSweepPrefixSpec pins arm-vs-direct
    // equality). Checkpointed so the arms don't re-evaluate the scan.
    val (base, queries, _, _) = graft.knn.ExactKnn.split(spark, dir)
    val cand = graft.knn.PqKnn.coarseCandidates(spark, dir, k,
        overfetch = ofs.max)
      .localCheckpoint(true)
    ofs.map { of =>
      recall(graft.knn.ExactKnn.rerank(
          cand.filter(col("rk") <= of * k).select("qid", "vec_id"),
          base, queries, k)
        .select("qid", "vec_id"), exact)
        .select(lit(of).as("overfetch"), col("recall"))
    }.reduce(_.unionByName(_))
  }
}
