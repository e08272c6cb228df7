package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Regression guard over the WHOLE declared batch surface: no query
  * may plan a cartesian product or an unbounded nested-loop join
  * unless it is on the explicit allowlist (the intentional
  * broadcast-NLJ distance scans and 1-row combiner joins), and no
  * query may plan a single-reducer window (a `WindowExec` with no
  * partition spec) unless its allowlist entry names the bound that
  * keeps the window's input small.
  *
  * This sweeps every `SparkEntry.queries` entry except the families
  * whose construction executes engine work that other suites already
  * pin (streaming-executed rows, ANN paths with their own
  * DistributedQueriesSpec, iterative driver trainers).
  */
class PlanShapeSweepSpec extends SparkSpec {

  // families with intentional cross joins (broadcast NLJ distance
  // scans; 1-row aggregates combined by crossJoin) or whose
  // construction runs the streaming engine / iterative trainers
  private val excludedPrefixes = Seq(
    "knn_", "eval_", "sql_knn", "neardup_", "hybrid_")
  private val excludedExact = Set(
    "text_bpe_vocab", // iterative driver-side trainer (own spec)
    "graph_pagerank",  // fixed-iteration loop (own spec)
    "graph_ppr",       // fixed-iteration loop (own spec)
    "events_markov_stationary") // fixed-iteration loop (own spec)
  // bounded-by-construction NLJs: a 1-row (or |labels|-row) aggregate
  // broadcast against the fact side — the canonical scalar-stat attach
  private val oneRowCrossAllowed = Set(
    "ingest_ndjson_topk",         // intentional 1-row-query broadcast NLJ
                                  // (the exact-kNN distance-scan shape)
    "graph_triangles",            // 1-row edge count x 1-row triangle count
    "emb_centroid_distances",     // |labels| x |labels| centroid pairs
    "pipeline_temperature_sample",// 1-row corpus totals
    "q11_important_parts",        // scalar threshold (sum x fraction)
    "q22_idle_balance",           // scalar average balance
    "text_bm25_general",          // 1-row corpus stats
    "text_bm25_topk",             // 1-row corpus stats
    "pipeline_negative_sampling", // intentional broadcast-NLJ query x base
                                  // pairing (the exact-kNN scan shape)
    "orders_market_basket",       // 1-row order-total attach
    "events_forecast_naive",      // 1-row max-day attach
    "text_tfidf_terms",           // 1-row doc count
    "text_unigram_logprob",       // 1-row vocab totals
    "text_bigram_perplexity",     // 1-row vocab size attach
    "pipeline_dsir_weights",      // 1-row distribution totals attach
    "stats_psi_by_source",        // 1-row corpus-total attach
    "pipeline_mixture_plan",      // 1-row total-weight attach
    "pipeline_mixture_dedup",     // same attach over the deduped corpus
    "text_pmi_collocations",      // 1-row bigram-total attach
    "graph_degree_distribution",  // 1-row node-total attach
    "stats_ks_quality",           // 1-row (n_a, n_b) totals attach
    "stats_ks_fdr",               // |grid| x |sources| dense-CDF scaffold
    "text_qlm_topk",              // 1-row corpus-stats attach
    "text_keywords_per_doc",      // 1-row doc-count attach
    "text_term_burstiness",       // 1-row doc-count attach
    "events_kaplan_meier",        // 1-row packed-factor-array attach
    "stats_anova_quality",        // 1-row grand-mean attach
    "stats_anova_contrasts",      // |sources|^2 pair NLJ on the tiny
                                  // per-source aggregate + 1-row MSW
    "text_bm25_prf",              // 1-row corpus-stats attach (the
                                  // text_bm25_general shape, twice)
    "text_decontaminate_embedding", // tiny benchmark relation broadcast
                                  // against the corpus scan (|bench| rows)
    "emb_alignment_uniformity",   // fixed 64-row probe panel broadcast
                                  // against the corpus + 1-row combiner
    "quality_expectations",       // 1-row violation x total combiners
    "privacy_t_closeness",        // 1-row corpus-marginal totals attach
    "text_kneser_ney",            // 1-row bigram-type-total attach
    "pipeline_perplexity_band",   // the same KN 1-row attach upstream
    "graph_modularity",           // 1-row edge-total attach
    "stats_bootstrap_ci",         // two 1-row ranked-cut attaches + the
                                  // broadcast B-row replicate fan-out
    "emb_intrinsic_dim",          // intentional broadcast-NLJ all-pairs
                                  // distance scan + 1-row MLE combiner
    "events_sequence_support",    // 1-row user-total attach
    "events_markov_holdout",      // 1-row baseline-prediction attach
    "emb_hubness",                // 1-row moment attach
    "emb_hubness_sampled",        // sampled-GT broadcast-NLJ distance
                                  // scan (the exact-kNN shape) upstream
    "events_cuped_lift",          // 1-row pooled-moments attach
    "events_did_lift",            // 1-row x 1-row arm-fold combiner
    "events_dau_wau_mau",         // calendar-bounded range fan-out NLJ
    "orders_backlog_aging",       // 1-row max-date anchor attach
    "layout_minmax_skipping",     // 1-row matched-count attach
    "layout_tradeoff_matrix",     // same 1-row matched-count attach x6
    "layout_zorder_box",          // same 1-row matched-count attach x4
    "layout_curve_read_amp",      // same 1-row matched-count attach,
                                  // once per curve leg
    "text_naive_bayes_langid",    // |classes|-row model fan-out against
                                  // the test words + 1-row V/n attaches
    "orders_merge_on_read",       // 1-row sidecar-size facts attach
                                  // (n_delete_keys x n_insert_rows)
    "orders_mor_compacted")       // same 1-row facts attach over the
                                  // compacted snapshot summary

  // rows allowed an unpartitioned (single-reducer) window, each with
  // the bound that keeps the one reducer small
  private val globalWindowAllowed: Map[String, String] = Map(
    "orders_rfm_segments" ->
      "rfm window leg below smallOrderCutover (|customers| rollup)",
    "events_kaplan_meier" -> "|lifetimes|-sized histogram (calendar-bounded)",
    "events_nelson_aalen" -> "|lifetimes|-sized histogram (calendar-bounded)",
    "events_msprt_monitor" -> "|days|-sized daily rollup (calendar-bounded)",
    "events_markov_holdout" -> "|event types|-sized majority-class rank",
    "stats_benford_digits" -> "|digits| = 9-row total attach",
    "stats_bootstrap_ci" -> "|replicates|-sized rank of the bootstrap means",
    "stats_chi_square" -> "|priorities| x |segments| contingency total",
    "stats_cramers_v" -> "|priorities| x |segments| contingency total",
    "stats_ks_fdr" -> "C(|sources|, 2)-sized pair relation (BH rank + m)",
    "text_zipf_fit" -> "limit(topN)-sized ranked head")

  /** Each swept row's physical plan, planned once for both guards. */
  private lazy val sweptPlans: Seq[(String, SparkPlan)] = {
    val swept = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => excludedPrefixes.exists(n.startsWith))
      .filterNot(n => n.contains("_streamed"))
      .filterNot(excludedExact)
    assert(swept.size > 100, s"sweep unexpectedly small: ${swept.size}")
    swept.map(name => name ->
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan)
  }

  /** Every `WindowExec` with an empty partition spec in `p`, looking
    * through adaptive plans, query stages, cached relations and
    * subqueries.
    */
  private def globalWindows(p: SparkPlan): Seq[WindowExec] = {
    val kids = (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }) ++ p.subqueries
    (p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case _ => Nil
    }) ++ kids.flatMap(globalWindows)
  }

  test("no declared batch query plans an unintended cartesian product") {
    val offenders = sweptPlans.flatMap { case (name, executed) =>
      val plan = executed.toString
      val cartesian = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (cartesian && !oneRowCrossAllowed(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected cartesian/NLJ plans in: ${offenders.mkString(", ")}")
  }

  test("no declared batch query plans an unpartitioned window unless it " +
      "names the bound that keeps it small") {
    val found = sweptPlans.collect {
      case (name, plan) if globalWindows(plan).nonEmpty => name
    }.toSet
    val extras = found -- globalWindowAllowed.keySet
    assert(extras.isEmpty, "single-reducer window(s) — rank with " +
      "GraftOps.globalOrder or allowlist the bound: " +
      extras.toSeq.sorted.mkString(", "))
    val stale = globalWindowAllowed.keySet -- found
    assert(stale.isEmpty, s"stale window allowlist entries: $stale")
  }
}
