package graft

/** Dev-loop micro-profiler (test scope, never shipped): times the
  * pieces named on the command line at a given sf dir. Usage:
  * `sbt "Test/runMain graft.DevProfile /root/testdata/sf0.01 name..."`.
  */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"PROF $name ${(System.nanoTime() - t0) / 1e9}%.2f rows=$n")
    }
    t("warm_copurchase")(operators.GraphOps.copurchaseEdges(spark, dir).count())
    t("warm_bidir")(operators.GraphOps.bidirAdjacency(spark, dir).count())
    t("bfs_warm")(operators.GraphOps.shortestPaths(spark, dir).count())
    t("bfs_again")(operators.GraphOps.shortestPaths(spark, dir).count())
    t("lr_train")(operators.Pipeline.prewarmClassifier(spark, dir))
    t("auc_warm")(operators.Pipeline.classifierAuc(spark, dir).count())
    t("fuzzy_warm")(operators.TextOps.fuzzyWordPairs(spark, dir).count())
    t("fuzzy_again")(operators.TextOps.fuzzyWordPairs(spark, dir).count())
    t("warm_tokens")(operators.TextOps.tokenizedDocs(spark, dir).count())
    t("bm25_leg")(operators.TextOps.bm25TopKExploded(
      spark, dir, operators.TextOps.bm25GeneralTerms, 100).count())
    t("vec_leg")(knn.ExactKnn.topKSingle(spark, dir, 100).count())
    t("hybrid_full")(operators.HybridSearch.rrfTopK(spark, dir).count())
    t("hybrid_again")(operators.HybridSearch.rrfTopK(spark, dir).count())
    t("hnsw_single")(knn.HnswKnn.topKSingle(spark, dir).count())
    t("hnsw_single_again")(knn.HnswKnn.topKSingle(spark, dir).count())
    for (p <- Seq("32", "8", "2")) {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      t(s"interval_streamed_p$p")(
        streaming.EventStream.intervalJoinStreamed(spark, dir).count())
      t(s"dedup_streamed_p$p")(
        streaming.EventStream.dedupStreamed(spark, dir).count())
    }
    spark.stop()
  }
}
