package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the interaction graph implied by `events` —
  * training-corpus pipelines rank/score entities this way (domain
  * authority for crawl prioritization, user/item importance). The
  * reference has no graph surface (north-star extension). Also home of
  * [[componentLabels]], the one connected-components labeler every
  * min-label clustering (near-dup, mutual-kNN, DBSCAN, SemDeDup) runs.
  *
  * Scale notes: PageRank is the canonical iterative-shuffle workload.
  * The edge relation is normalized ONCE (transition probability
  * attached), cached, and re-joined each iteration — so each round is
  * exactly one shuffle-join + one aggregation on the rank frame, the
  * minimum Spark can do without Pregel-style mutable state. At 100 TB
  * the edge frame would be bucketed by `src` so the per-iteration join
  * co-locates with the rank frame and only ranks (node, double) ever
  * re-shuffle. Iteration count is fixed (power iteration converges
  * geometrically; 3 rounds for the declared query keeps the oracle a
  * finite SQL chain).
  */
object GraphOps {

  /** Weighted PageRank over the bipartite user <-> event_type graph.
    *
    * Nodes are `u:<user_id>` and `t:<event_type>`; each distinct
    * (user, type) pair contributes a directed edge in both directions
    * weighted by its event count. Transition probability = w / out-
    * weight(src). Rank update: `r' = (1-d)/N + d * sum(r_src * p)`.
    *
    * Determinism (SURVEY.md §7.4): ranks are quantized to 9 dp after
    * every iteration so cross-engine fold-order ulps cannot accumulate,
    * and the declared output rounds once more to 6 dp.
    */
  /** The normalized bipartite transition relation shared by
    * [[pageRank]] and [[personalizedPageRank]]: (trans, nodes, n) with
    * both frames cached — memoized per dataset so the two declared
    * rank queries in one session build the graph once.
    */
  private def bipartiteTrans(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, Long) =
    graft.IndexCache.getOrBuild(spark, "graph-bipartite-trans", dir) {
      val und = Tables.events(spark, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("w"))
      val edges = und.select(
          concat(lit("u:"), col("user_id")).as("src"),
          concat(lit("t:"), col("event_type")).as("dst"), col("w"))
        .unionAll(und.select(
          concat(lit("t:"), col("event_type")).as("src"),
          concat(lit("u:"), col("user_id")).as("dst"), col("w")))
      val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
      val trans = edges.join(outW, "src")
        .select(col("src"), col("dst"),
          (col("w").cast("double") / col("outw")).as("p"))
        .cache()
      val nodes = edges.select(col("src").as("node")).distinct().cache()
      // one driver-side scalar (node count) — not a data collect
      (trans, nodes, nodes.count())
    }

  def pageRank(spark: SparkSession, dir: String, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    // transition probabilities, built once and reused every iteration
    val (trans, nodes, nNodes) = bipartiteTrans(spark, dir)
    val n = nNodes.toDouble

    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    withIterativeExecution(spark) {
      (1 to iters).foreach { _ =>
        val inflow = trans.join(ranks, trans("src") === ranks("node"))
          .groupBy(col("dst"))
          .agg(sum(col("rank") * col("p")).as("inflow"))
        ranks = nodes.join(inflow, nodes("node") === inflow("dst"), "left")
          .select(col("node"),
            round(lit((1.0 - damping) / n) +
              lit(damping) * coalesce(col("inflow"), lit(0.0)), 9).as("rank"))
      }
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Personalized PageRank from a single seed node — "entities
    * relevant to THIS user", the recommendation/expansion primitive
    * (random walk with restart: all teleport mass returns to the seed
    * instead of spreading uniformly). Seed = the minimum user id
    * (deterministic, always present); same bipartite user <->
    * event_type transition relation as [[pageRank]], built once and
    * re-joined per round.
    *
    * Determinism: per-round 9 dp quantization then a final 6 dp round,
    * the [[pageRank]] discipline; the restart mass `1 − d` is written
    * as the expression `1.0 − 0.85` in BOTH engines so the IEEE value
    * matches bit-for-bit. Only reached nodes (rank > 0) are emitted —
    * PPR is sparse by construction, which is exactly why it scales:
    * at 100 TB the rank frame stays proportional to the seed's
    * k-hop neighborhood, not the graph.
    */
  def personalizedPageRank(spark: SparkSession, dir: String,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val (trans, nodes, _) = bipartiteTrans(spark, dir)
    // one driver-side scalar (the seed id), memoized per dataset so
    // repeated PPR calls don't re-scan events for one number
    val seed = graft.IndexCache.getOrBuild(spark, "graph-ppr-seed", dir) {
      "u:" + Tables.events(spark, dir)
        .agg(min(col("user_id"))).head().getLong(0)
    }
    val restart = lit(1.0) - lit(damping)

    var ranks = nodes.select(col("node"),
      when(col("node") === seed, lit(1.0)).otherwise(lit(0.0)).as("rank"))
    withIterativeExecution(spark) {
      (1 to iters).foreach { _ =>
        val inflow = trans.join(ranks, trans("src") === ranks("node"))
          .groupBy(col("dst"))
          .agg(sum(col("rank") * col("p")).as("inflow"))
        ranks = nodes.join(inflow, nodes("node") === inflow("dst"), "left")
          .select(col("node"),
            round(when(col("node") === seed, restart).otherwise(lit(0.0)) +
              lit(damping) * coalesce(col("inflow"), lit(0.0)), 9).as("rank"))
      }
    }
    ranks.filter(col("rank") > 0)
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** The customer co-purchase similarity graph: an undirected edge
    * (u < v) between customers who ordered at least `minShared`
    * distinct common parts. Built once per dataset (cached): distinct
    * (customer, part) pairs, a per-part equi-self-join (never a
    * cartesian — candidates exist only within a part's buyer list),
    * then a (u, v) count filter.
    *
    * Scale notes: the per-part pair expansion is Σ deg(p)², the classic
    * co-occurrence blow-up — it is bounded by part-degree skew, and the
    * standard mitigation (cap or sample buyers of ultra-hot parts
    * before pairing) drops in as a bounded-heap prune per part without
    * changing the plan shape. Edges are emitted ordered (u < v) so
    * every undirected edge exists exactly once.
    */
  /** The COUNTED co-purchase pair relation (u < v, shared >= 2) — the
    * expensive deg² pair expansion runs ONCE per dataset here; every
    * `minShared` slice ([[copurchaseEdges]]) is a filter over this
    * (small) counted table, so the components/communities cuts at
    * 4 and 6 cost a cached-relation scan instead of a re-pairing
    * (r6 measured the three-cut build at 16.8 s; one expansion + two
    * filters is ~3x less work).
    */
  /** The distinct (customer, part) purchase relation — the bipartite
    * incidence both co-purchase expansions and the basket-completion
    * consumer read; memoized + persisted per dataset.
    */
  private def custPartPairs(spark: SparkSession, dir: String): DataFrame =
    graft.IndexCache.persisted(spark, "cust-part-pairs", dir) {
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
    }

  private def copurchaseCounts(spark: SparkSession, dir: String): DataFrame =
    graft.IndexCache.persisted(spark, "copurchase-counts", dir) {
      // NOTE kept as the codegen'd equi-self-join deliberately: a
      // grouped collect_set + typed flatMap variant (one fewer shuffle
      // on paper) measured 5.9 s vs 3.7 s here — the 7M-pair emission
      // through Scala tuple encoders loses whole-stage codegen and
      // costs more than the shuffle it saves at this deg² volume.
      val cp = custPartPairs(spark, dir)
      cp.toDF("c1", "p").join(cp.toDF("c2", "p2"),
          col("p") === col("p2") && col("c1") < col("c2"))
        .groupBy(col("c1").as("u"), col("c2").as("v"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
    }

  /** Item–item co-purchase counts — the TRANSPOSE of
    * [[copurchaseCounts]] (Amazon-style item-item CF, Linden, Smith &
    * York 2003): unordered part pairs bought by at least 2 common
    * customers, with the common-customer count as the affinity. Same
    * bounded equi-self-join shape as the customer side — candidates
    * exist only within one customer's basket, never all-pairs; the
    * deg² blow-up is basket skew, mitigated the same way (cap
    * ultra-hot baskets before pairing). Memoized per dataset.
    */
  private[graft] def itemPairCounts(spark: SparkSession, dir: String): DataFrame =
    graft.IndexCache.persisted(spark, "copurchase-itempairs", dir) {
      val cp = custPartPairs(spark, dir)
      cp.toDF("c", "p1").join(cp.toDF("c2", "p2"),
          col("c") === col("c2") && col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
    }

  /** BASKET COMPLETION off the item-item transpose: for every
    * customer, the top-k parts they have NOT bought, scored by the
    * summed item-item affinity between each candidate and the parts
    * they HAVE bought (the "customers who bought X also bought Y"
    * serving query of item-item CF). Ties break to the smaller part
    * key; already-owned parts leave by a keyed anti-join.
    *
    * Each item keeps only its `nbrCap` strongest neighbors (affinity
    * desc, part-key ties asc) — the truncated-neighbor-list discipline
    * production item-item CF stores (Linden et al. 2003 serve from
    * exactly such lists): the serving fan-out is then |incidence| ×
    * nbrCap instead of |incidence| × avg-item-degree. Measured at
    * sf0.1 this is the difference between 11.1 s (uncapped fan-out)
    * and ~2 s; at 100 TB the uncapped form is unservable while the
    * capped one is linear in the incidence.
    *
    * Scale shape — the CF SERVING plan, not the analytic one: the
    * neighbor cap runs as [[graft.plans.TopKPerGroup]] bounded heaps
    * on the pair relation, and the capped lists (|items| × nbrCap
    * rows — ITEM-bounded, the relation production CF systems hold in
    * memory per serving node) BROADCAST; each customer's basket then
    * scores, drops owned parts, and takes its top-k in ONE local pass
    * over a per-customer hash map. Exactly one shuffle of the (c, p)
    * incidence — no candidate fan-out relation ever materializes or
    * shuffles (the relational join+agg+anti-join+topk form measured
    * 6.7 s at sf0.1; this form ~1.5 s). The capped lists are bounded
    * by |items| × nbrCap by construction AND gated: the broadcast memo
    * ([[itemNeighborBroadcast]]) collects them through
    * [[GraftOps.driverOr]] under the `item-nbr-bc` registry bound, and
    * past it the plan switches to [[basketCompletionDistributed]],
    * which co-partitions the same index instead of broadcasting it.
    * Output: (custkey, partkey, score, rk).
    */

  /** The truncated per-item neighbor lists as a RELATION — the
    * PUBLISHED index of item-item CF (built offline, served online;
    * Linden et al. 2003): each item's `nbrCap` strongest co-purchase
    * neighbors (affinity desc, part-key ties asc), |items| × nbrCap
    * rows by construction. Memoized + persisted per (dataset, cap);
    * the broadcast below derives from it, and past the `item-nbr-bc`
    * bound it IS the serving index (joined co-partitioned, never
    * collected). Output: (p, rec, n).
    */
  private[graft] def itemNeighborListsDF(spark: SparkSession, dir: String,
      nbrCap: Int = 20): DataFrame =
    graft.IndexCache.persisted(spark, "item-nbr-df", dir, nbrCap) {
      val ip = itemPairCounts(spark, dir)
      val sym = ip.select(col("p1").as("p"), col("p2").as("rec"), col("cnt"))
        .unionAll(ip.select(col("p2").as("p"), col("p1").as("rec"),
          col("cnt")))
      graft.plans.GraftOps.topKPerGroup(sym, Seq("p"),
          Seq(("cnt", false), ("rec", true)), nbrCap)
        .select(col("p").cast("long"), col("rec").cast("long"),
          col("cnt").cast("long").as("n"))
    }

  /** [[itemNeighborListsDF]] as a MEMOIZED driver-map Broadcast, or
    * None past the `item-nbr-bc` bound: the memo build makes the
    * cutover decision once per (dataset, cap), so a serving call runs
    * no count (an un-memoized `sc.broadcast` per invocation would also
    * leak broadcast blocks across a bench + test session).
    */
  private[graft] def itemNeighborBroadcast(spark: SparkSession, dir: String,
      nbrCap: Int = 20): Option[
        org.apache.spark.broadcast.Broadcast[Map[Long, Array[(Long, Long)]]]] =
    graft.IndexCache.getOrBuild(spark, "item-nbr-bc", dir, nbrCap) {
      import spark.implicits._
      graft.plans.GraftOps.driverOr(itemNeighborListsDF(spark, dir, nbrCap)
          .as[(Long, Long, Long)], "item-nbr-bc", rowWidth = 3) { rows =>
        Option(spark.sparkContext.broadcast(rows.groupBy(_._1)
          .map { case (p, rs) => p -> rs.map(r => (r._2, r._3)) }))
      }(None)
    }

  /** ITEM SIMILARITY — the normalized "related items" table (the
    * cosine form of item-item CF: raw co-purchase counts over-weight
    * popular items, so production tables store
    * `cnt / sqrt(pop_a · pop_b)`): per part, its `topK` most similar
    * parts by cosine, ties to the smaller part key. Shares the
    * memoized incidence + pair counts with [[basketCompletion]].
    *
    * Exactness: popularities are exact counts; `na·nb` is an exact
    * BIGINT ≤ 2^53, so `sqrt` and the one division are single IEEE
    * calls in both engines (the established ln/sqrt tolerance),
    * rounded 6 BEFORE ranking.
    *
    * Scale shape: the |items|-bounded popularity relation broadcasts
    * into the pair relation twice; the grouped top-k runs as
    * [[graft.plans.TopKPerGroup]] bounded heaps — one shuffle on the
    * part key. Output: (partkey, neighbor, n_common, cosine, rk).
    */
  def itemSimilarity(spark: SparkSession, dir: String,
      topK: Int = 10): DataFrame = {
    val ip = itemPairCounts(spark, dir)
    val pop = custPartPairs(spark, dir)
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    val sym = ip.select(col("p1").as("p"), col("p2").as("rec"), col("cnt"))
      .unionAll(ip.select(col("p2").as("p"), col("p1").as("rec"),
        col("cnt")))
    val scored = sym
      .join(broadcast(pop.select(col("p"), col("n").as("na"))), Seq("p"))
      .join(broadcast(pop.select(col("p").as("rec"), col("n").as("nb"))),
        Seq("rec"))
      .select(col("p").as("partkey"), col("rec").as("neighbor"),
        col("cnt").as("n_common"),
        round(col("cnt").cast("double")
          / sqrt((col("na") * col("nb")).cast("double")), 6).as("cosine"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("partkey"),
      Seq(("cosine", false), ("neighbor", true)), topK)
  }

  def basketCompletion(spark: SparkSession, dir: String,
      topK: Int = 5, nbrCap: Int = 20): DataFrame = {
    import spark.implicits._
    // cutover: the broadcast leg holds |items| × nbrCap entries on the
    // driver — fine for any real catalog, unservable at web-catalog
    // extremes, where the co-partitioned relational leg takes over
    itemNeighborBroadcast(spark, dir, nbrCap) match {
      case None => basketCompletionDistributed(spark, dir, topK, nbrCap)
      case Some(bc) =>
        custPartPairs(spark, dir)
          .select(col("c").cast("long"), col("p").cast("long"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .flatMapGroups { (c, it) =>
            val owned = it.map(_._2).toSet
            val scores = scala.collection.mutable.LongMap.empty[Long]
            owned.foreach { p =>
              bc.value.get(p).foreach(_.foreach { case (rec, n) =>
                if (!owned(rec)) scores(rec) = scores.getOrElse(rec, 0L) + n
              })
            }
            scores.toSeq.sortBy { case (rec, s) => (-s, rec) }.take(topK)
              .zipWithIndex
              .map { case ((rec, s), i) => (c, rec, s, i + 1) }
          }
          .toDF("custkey", "partkey", "score", "rk")
    }
  }

  /** The past-cutover serving leg of [[basketCompletion]] — identical
    * semantics, nothing driver-side: the capped neighbor index joins
    * the incidence as a plain equi-join on the item key (co-partitioned
    * with the pair-count shuffle that built it), owned parts leave by
    * a keyed anti-join on (customer, candidate), and the per-customer
    * top-k runs as [[graft.plans.TopKPerGroup]] bounded heaps. Fan-out
    * is |incidence| × nbrCap — the same bound the broadcast leg scores
    * locally, paid here as one extra shuffle instead of driver memory.
    * Kept semantically pinned to the broadcast leg by GraphOpsSpec.
    */
  private[graft] def basketCompletionDistributed(spark: SparkSession,
      dir: String, topK: Int = 5, nbrCap: Int = 20): DataFrame = {
    val cp = custPartPairs(spark, dir)
      .select(col("c").cast("long"), col("p").cast("long"))
    // owned-part anti-join BEFORE the (c, rec) aggregation: it removes
    // whole groups (rec the customer already owns), so filtering the
    // |incidence| x nbrCap fan-out rows map-side — a broadcast hash
    // lookup per row — is exactly equivalent to anti-joining the
    // aggregated relation, and every removed row is one the big
    // exchange never carries (guide §2.3: shuffle fewer bytes; was
    // 13.1M rows / 400 MiB through the agg exchange at sf0.1).
    //
    // Partition the INCIDENCE by customer before the fan-out (guide
    // §2.4 share one exchange): the broadcast joins preserve the
    // c-partitioning, HashPartitioning(c) satisfies both the (c, rec)
    // aggregation's ClusteredDistribution(c, rec) and the per-customer
    // heap's ClusteredDistribution(c), so the ONLY shuffle left is the
    // ~3 MB incidence — the fan-out never crosses the network at all.
    // (The former shape shuffled it twice: the (c, rec) agg exchange
    // carried 111 MB — near-zero partial-agg reduction, (c, rec) pairs
    // are almost all distinct — and the heap's c exchange re-shuffled
    // the 103 MB aggregate.)
    // explicit width: AQE would coalesce a bare repartition(col) by the
    // incidence's ~3 MB and serialize the 40 s-CPU fan-out behind it —
    // the partition count must size to the downstream compute, not the
    // shuffled bytes (the round-14 tile-layout lesson)
    val scored = cp
      .repartition(spark.sparkContext.defaultParallelism, col("c"))
      .join(itemNeighborListsDF(spark, dir, nbrCap), Seq("p"))
      .join(cp.select(col("c"), col("p").as("rec")), Seq("c", "rec"),
        "left_anti")
      .groupBy(col("c"), col("rec"))
      .agg(sum(col("n")).as("score"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("c"),
        Seq(("score", false), ("rec", true)), topK)
      .select(col("c").as("custkey"), col("rec").as("partkey"),
        col("score"), col("rk"))
  }

  def copurchaseEdges(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame =
    graft.IndexCache.persisted(spark, "copurchase", dir, minShared) {
      // each slice persists its own (u,v) projection: consumers like
      // the label-propagation rounds join it repeatedly, and a derived
      // filter-over-cache loses the in-memory stats that keep those
      // join plans broadcast (measured: graph_communities 1.3 s ->
      // 5.6 s without this). The expensive pair EXPANSION still runs
      // once, in copurchaseCounts.
      val counts = copurchaseCounts(spark, dir)
      (if (minShared <= 2) counts
        else counts.filter(col("shared") >= minShared))
        .select("u", "v")
    }

  /** Single-source BFS over the co-purchase graph: distance (hop
    * count) from the smallest customer key that has an edge, out to
    * `maxHops`. The Pregel-style iterative form: each round joins the
    * CURRENT frontier (nodes first reached last round) against the
    * bidirectional edge list and folds the discoveries in with a
    * min-distance aggregate, so a node reached by several paths keeps
    * its earliest hop.
    *
    * The source is an aggregate (`min(u)`) attached declaratively —
    * no driver-side collect anywhere in the loop. Iteration count is
    * fixed so the DuckDB oracle is a bounded `WITH RECURSIVE` walk
    * (UNION-dedup on (node, d), then min(d) per node — identical BFS
    * semantics).
    *
    * Scale notes: per round = one equi-join frontier x edges + one
    * min-aggregate, the minimal shuffle pair for distributed BFS; the
    * frontier filter (`d = round-1`) keeps re-expansion of settled
    * nodes out of the join. At 100 TB the edge list would be bucketed
    * by `u` so every round's join co-locates, and the distance frame
    * checkpointed every few rounds to cut lineage.
    */
  /** Bidirectional co-purchase adjacency, pre-partitioned ON THE JOIN
    * KEY and persisted once per dataset: every BFS hop's equi-join then
    * reuses that partitioning, so only the (small) frontier shuffles
    * per round instead of the full edge list — the layout an iterative
    * graph engine keeps its edges in for the whole computation, and the
    * difference between O(hops·|E|) and O(hops·|frontier|) shuffle
    * volume at 100 TB. Charged to bench_build_copurchase.
    */
  def bidirAdjacency(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame =
    graft.IndexCache.persisted(spark, "copurchase-bidir", dir, minShared) {
      val e = copurchaseEdges(spark, dir, minShared)
      e.select(col("u").cast("long").as("u"),
          col("v").cast("long").as("v"))
        .unionAll(e.select(col("v").cast("long").as("u"),
          col("u").cast("long").as("v")))
        .repartition(col("u"))
    }

  /** Degree distribution of the co-purchase graph — the first QA
    * number a graph pipeline publishes (hubs, skew, the power-law
    * check that decides whether per-key joins need salting): per
    * degree value, how many nodes carry it, plus each bucket's share
    * of all nodes in integer permille.
    *
    * Scale shape: two partial-aggregated rollups over the memoized
    * edge relation (edge → degree, degree → count) and a one-row
    * total attach — the pair expansion is the cached
    * copurchase build's, already paid. Output:
    * (degree, n_nodes, permille).
    */
  def degreeDistribution(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame = {
    val deg = degreesOf(spark, dir, minShared)
      .select(col("node"), col("deg").as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    val tot = hist.agg(sum(col("n_nodes")).as("tn"))
    hist.crossJoin(broadcast(tot))
      .select(col("degree"), col("n_nodes"),
        round(col("n_nodes").cast("double") * 1000 / col("tn"), 0)
          .cast("long").as("permille"))
  }

  def shortestPaths(spark: SparkSession, dir: String, maxHops: Int = 4,
      minShared: Int = 2): DataFrame = {
    val bidir = bidirAdjacency(spark, dir, minShared)
    val seed = bidir.agg(min(col("u")).cast("long").as("node"))
      .select(col("node"), lit(0L).as("d"))
      .localCheckpoint(true)
    // frontier-only rounds: only the NEWLY-REACHED node set is ever
    // checkpointed or aggregated. The previous form re-grouped and
    // re-checkpointed the ENTIRE accumulated distance frame every hop
    // (O(hops·|V|) materialization); here the settled set is a union
    // of <= maxHops+1 already-checkpointed LogicalRDDs — the plan
    // stays constant-size per round (the Pregel lineage discipline)
    // while per-round writes shrink to O(|frontier|). Measured 3.4 s
    // -> ~1.5 s at sf0.1 on the minShared=2 hairball.
    var dist = seed
    var frontier = seed
    withIterativeExecution(spark) {
      (1 to maxHops).foreach { h =>
        // SHUFFLE_HASH on the (small) frontier side: the adjacency is
        // already hash-partitioned on the key, so a hash join probes it
        // in place — the default sort-merge would re-SORT the full edge
        // list every hop, which dominates an iterative join
        val cand = frontier.hint("shuffle_hash")
          .join(bidir, col("node") === col("u"))
          .select(col("v").as("node")).distinct()
        // first-reach = BFS minimality: a candidate already in dist was
        // reached at an earlier hop, so the anti-join IS the min(d)
        frontier = cand.join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(h.toLong).as("d"))
          .localCheckpoint(true)
        dist = dist.unionAll(frontier)
      }
    }
    dist
  }

  /** Single-source WEIGHTED shortest paths (Bellman–Ford, the
    * delta/worklist form) over the co-purchase graph: edge cost
    * `1000 div shared` (stronger ties are cheaper to traverse — the
    * similarity-as-distance transform), source = smallest keyed node,
    * `rounds` relaxation rounds. After r rounds both this and the
    * oracle's full-relaxation unroll equal THE SAME well-defined
    * relation — min cost over paths of ≤ r edges — so oracle equality
    * never depends on convergence (the k-core discipline); the
    * fixpoint is pinned separately in the spec.
    *
    * Scale shape: per round, only the IMPROVED node set (the worklist)
    * joins the adjacency — the weighted sibling of the BFS frontier
    * discipline — via a shuffle-hash probe into the pre-partitioned
    * edge layout; the distance frame updates by anti-join + union of
    * checkpointed O(|improved|) deltas. Per-round shuffle volume is
    * O(|worklist ⋈ E|), not O(|V|·rounds). Output: (node, d).
    */
  /** The weighted bidirectional adjacency [[weightedSssp]] relaxes
    * against, memoized per (dataset, minShared): staging it (cast +
    * union + key repartition + persist + count) ran INSIDE the timed
    * serving row on every invocation; like every other adjacency here
    * it is a build artifact (charged to bench_build_copurchase).
    */
  private[graft] def weightedAdjacency(spark: SparkSession, dir: String,
      minShared: Int = 4): DataFrame =
    graft.IndexCache.persisted(spark, "graph-sssp-adj", dir, minShared) {
      val e0 = copurchaseCounts(spark, dir)
        .filter(col("shared") >= minShared)
        .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"),
          expr("1000 div shared").cast("long").as("w"))
      e0
        .unionAll(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
        .repartition(col("u"))
    }

  def weightedSssp(spark: SparkSession, dir: String, rounds: Int = 6,
      minShared: Int = 4): DataFrame = {
    val bidir = weightedAdjacency(spark, dir, minShared)
    val seed = bidir.agg(min(col("u")).cast("long").as("node"))
      .select(col("node"), lit(0L).as("d"))
      .localCheckpoint(true)
    var dist = seed
    var frontier = seed
    // relaxation rounds are node-bounded — run them in the iterative
    // execution scope (no per-round codegen recompilation)
    withIterativeExecution(spark) {
      (1 to rounds).foreach { _ =>
        val cand = frontier.hint("shuffle_hash")
          .join(bidir, col("node") === col("u"))
          .select(col("v").as("cnode"), (col("d") + col("w")).as("nd"))
          .groupBy(col("cnode")).agg(min(col("nd")).as("nd"))
        val improved = cand
          .join(dist, col("cnode") === col("node"), "left_outer")
          .filter(col("node").isNull || col("nd") < col("d"))
          .select(col("cnode").as("node"), col("nd").as("d"))
          .localCheckpoint(true)
        dist = dist.join(improved, Seq("node"), "left_anti")
          .unionAll(improved)
          .localCheckpoint(true)
        frontier = improved
      }
    }
    dist
  }

  /** k-core subgraph of the co-purchase graph: the maximal subgraph in
    * which every surviving node keeps degree >= k, by the standard
    * iterative peel (drop all nodes with degree < k, recompute, repeat).
    * Output: (node, deg) — each core member with its degree INSIDE the
    * core.
    *
    * Declared as the 2-core of the minShared=3 cut — the operating
    * point where the peel actually demonstrates (at sf0.1 it removes
    * 40% of nodes over an 8-round cascade; the >=2 hairball's core is
    * the whole hairball and the >=4 cut's core is empty there). Runs a
    * FIXED `rounds`-round unroll, and the DuckDB oracle replays
    * exactly those rounds as chained CTEs — so oracle equality NEVER
    * depends on convergence (the round-count trap the typo-cluster
    * oracle once had); GraphOpsSpec separately pins that round
    * `rounds` is a fixpoint (one extra round changes nothing), which
    * is what makes the declared rows the true k-core (measured
    * fixpoints: round 8 at sf0.1, 2 at sf0.01, 1 at sf0.001 — the
    * declared 10 carries margin).
    *
    * Scale shape: per round = one degree aggregate over the surviving
    * adjacency + two semi-joins against the (node-sized) survivor set,
    * rebased on `localCheckpoint` so plan and lineage stay constant
    * (the Pregel discipline); the peel's total work is bounded by
    * O(rounds · |E|) with the edge list shrinking monotonically. At
    * 100 TB the adjacency stays bucketed on the join key and each
    * round's survivor set is broadcast-sized long before the core
    * stabilizes.
    */
  def kCore(spark: SparkSession, dir: String, k: Int = 2,
      minShared: Int = 3, rounds: Int = 10): DataFrame =
    kCoreOf(bidirAdjacency(spark, dir, minShared), k, rounds)

  /** [[kCore]] over an arbitrary symmetric (u, v) adjacency — the peel
    * itself, exposed so GraphOpsSpec can demonstrate it on a synthetic
    * pendant-chain graph where the cascade provably removes nodes.
    */
  def kCoreOf(adjacency: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = adjacency.sparkSession
    import spark.implicits._
    // small-graph cutover: an iterative peel pays ~4 scheduler
    // round-trips per round, which dominates small graphs (measured:
    // 3.4 s for 9 rounds over a 30k-edge adjacency, ~0.3 s
    // driver-side). Up to the `driver-edges` bound the edge list is
    // peeled on the driver; past it the distributed loop runs.
    // GraphOpsSpec pins both legs equal.
    graft.plans.GraftOps.driverOr(
        adjacency.select(col("u").cast("long"), col("v").cast("long"))
          .as[(Long, Long)], "driver-edges")(
      kCoreDriver(spark, _, k, rounds))(kCoreDistributed(adjacency, k, rounds))
  }

  /** The distributed leg of [[kCoreOf]] — per round: one degree
    * aggregate + two broadcast semi-joins + a lineage-cutting
    * checkpoint, with a monotone-count early exit at the fixpoint.
    */
  private[graft] def kCoreDistributed(adjacency: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var sym = adjacency
    var prevEdges = -1L
    var r = 0
    withIterativeExecution(adjacency.sparkSession) {
    while (r < rounds && prevEdges != 0L) {
      // survivor set materialized ONCE per round (the checkpointed
      // frame has no optimizer stats, so an un-materialized `keep`
      // would both re-run the degree aggregate per reference and plan
      // the semi-joins as full sort-merge shuffles), then BROADCAST:
      // node-sized and shrinking, it fits the broadcast envelope long
      // before the adjacency does — at 100 TB the first peel rounds
      // would instead keep the shuffle semi-join co-partitioned with
      // the bucketed adjacency and flip to broadcast as the set shrinks
      val keep = sym.groupBy(col("u")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("u"))
        .localCheckpoint(true)
      sym = sym.join(broadcast(keep), Seq("u"), "left_semi")
        .join(broadcast(keep.select(col("u").as("v"))), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(true)
      val n = sym.count()
      // the peel only ever REMOVES edges, so an unchanged edge count is
      // a fixpoint and every remaining round is a no-op — skipping them
      // cannot change the output (the oracle still unrolls all `rounds`
      // in SQL; both sides sit at the same fixpoint)
      if (n == prevEdges) r = rounds else { prevEdges = n; r += 1 }
    }
    }
    sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
  }

  /** The driver leg of [[kCoreOf]]: the collected edge multiset,
    * peeled with the same fixed unroll and early exit as
    * [[kCoreDistributed]] (same output shape).
    */
  private[graft] def kCoreDriver(spark: SparkSession,
      collected: Array[(Long, Long)], k: Int, rounds: Int): DataFrame = {
    import spark.implicits._
    var edges = collected
    var prevEdges = -1
    var r = 0
    while (r < rounds && prevEdges != 0) {
      val deg = edges.groupBy(_._1).view.mapValues(_.length).toMap
      val keep = deg.collect { case (u, d) if d >= k => u }.toSet
      edges = edges.filter { case (u, v) => keep(u) && keep(v) }
      if (edges.length == prevEdges) r = rounds
      else { prevEdges = edges.length; r += 1 }
    }
    edges.groupBy(_._1).view.mapValues(_.length.toLong).toSeq
      .toDF("node", "deg")
  }

  /** Triangle census of the co-purchase graph: edge and triangle
    * counts in one row. Triangles enumerate via the ORDERED two-hop
    * join — edges stored u < v mean each triangle x < y < z matches
    * exactly one (e1=(x,y), e2=(y,z), e3=(x,z)) triple, no
    * post-dedup, join fan-out bounded by vertex degree (the standard
    * degree-orientation trick that keeps distributed triangle
    * counting linear in Σ deg²).
    */
  /** The node-degree relation of the co-purchase graph, memoized per
    * (dataset, minShared) — four declared rows (degree distribution,
    * clustering coefficient, assortativity, modularity) each re-derived
    * it from the edge cache before this memo (guide §7.2 duplicated
    * subtrees). |nodes| rows; charged to bench_build_copurchase.
    */
  private[graft] def degreesOf(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame =
    graft.IndexCache.persisted(spark, "graph-deg", dir, minShared) {
      val e = copurchaseEdges(spark, dir, minShared)
      e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    }

  /** The TRIANGLE relation (x, y, z — each triangle exactly once),
    * memoized per (dataset, minShared): the census and the clustering
    * coefficient both consumed their own copy of the wedge-join
    * expansion before this memo (§7.2). Enumeration is DEGREE-ORIENTED
    * (the classic O(m^1.5) bound): every edge points from its lower-
    * (deg, id) endpoint to the higher one, wedges form only between
    * out-neighbors of a common node — so wedge count is Σ C(outdeg, 2)
    * with outdeg = O(√m) instead of Σ indeg·outdeg under id order,
    * which a hub-heavy co-purchase graph inflates badly. The triangle
    * SET is identical (each triangle has exactly one corner with two
    * out-edges under a total order), so both consumers' outputs are
    * bit-unchanged.
    */
  private[graft] def trianglesOf(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame =
    graft.IndexCache.persisted(spark, "graph-tri", dir, minShared) {
      val edges = copurchaseEdges(spark, dir, minShared)
      val deg = degreesOf(spark, dir, minShared)
      // orient: (a -> b) iff (deg(a), a) < (deg(b), b); ids are unique
      // so the order is total and every undirected edge appears once
      val du = deg.select(col("node").as("u"), col("deg").as("du"))
      val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
      // its own memo, not an inner checkpoint: three plan references
      // below (both wedge sides + the closing-edge semi join) read it
      // once, and after a cache release it re-persists from lineage
      val oriented = graft.IndexCache.persisted(spark, "graph-oriented",
          dir, minShared) {
        edges
          .join(broadcast(du), Seq("u")).join(broadcast(dv), Seq("v"))
          .select(
            when(col("du") < col("dv")
              || (col("du") === col("dv") && col("u") < col("v")),
              col("u")).otherwise(col("v")).as("a"),
            when(col("du") < col("dv")
              || (col("du") === col("dv") && col("u") < col("v")),
              col("v")).otherwise(col("u")).as("b"),
            when(col("du") < col("dv")
              || (col("du") === col("dv") && col("u") < col("v")),
              col("dv")).otherwise(col("du")).as("db"))
      }
      val left = oriented.select(col("a"), col("b"), col("db"))
      val right = oriented.select(col("a"), col("b").as("c"),
        col("db").as("dc"))
      // wedges between out-neighbors of a, ordered by (deg, id) so the
      // closing edge (b -> c) carries the same orientation
      val wedges = left.join(right, Seq("a"))
        .filter(col("db") < col("dc")
          || (col("db") === col("dc") && col("b") < col("c")))
        .select(col("a"), col("b"), col("c"))
      // the closing-edge probe broadcasts (|E| keys, a few MB): the
      // wedge relation — the big side — never shuffles
      val tri = wedges
        .join(broadcast(oriented.select(col("a").as("b"), col("b").as("c"))),
          Seq("b", "c"), "left_semi")
        .select(col("a").as("x"), col("b").as("y"), col("c").as("z"))
      // readers plan against one RDD leaf that keeps its lineage, not the
      // wedge plan (a serving count over that plan took ~0.7 s at sf0.1
      // for a 5-task cached scan; ~0.2 s over the leaf)
      org.apache.spark.sql.GraftColumn.ofInternal(spark,
        tri.queryExecution.toRdd.map(_.copy()), tri.schema)
    }

  def triangleCensus(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame = {
    val edges = copurchaseEdges(spark, dir, minShared)
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    val nT = trianglesOf(spark, dir, minShared)
      .agg(count(lit(1)).as("n_triangles"))
    nE.crossJoin(nT)
  }

  /** Per-node local clustering coefficient on the co-purchase graph:
    * coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2 — the
    * "how clique-like is this node's neighborhood" number that
    * separates community cores from bridge hubs (a hub with coeff≈0
    * connects strangers; a core with coeff≈1 sits in a clique).
    *
    * Plan: the [[triangleCensus]] ordered enumeration (x<y<z, two
    * equi-joins — never a cartesian) exploded to its three corners and
    * counted per node, joined to the degree rollup. Exact integers up
    * to one final division. Scale: same degree-bounded expansion as
    * the census; corners triple the triangle relation, not the graph.
    * Output: (node, deg, n_triangles, coeff rounded 6).
    */
  def clusteringCoefficient(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame = {
    val tri = trianglesOf(spark, dir, minShared)
    val corners = tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val deg = degreesOf(spark, dir, minShared)
    deg.filter(col("deg") >= 2)
      .join(corners, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - 1)).cast("double"), 6).as("coeff"))
  }

  /** Degree assortativity of the co-purchase graph: the Pearson
    * correlation of endpoint degrees over all directed stubs — one
    * number that says whether hubs attach to hubs (assortative > 0,
    * social-network-like) or to leaves (disassortative < 0,
    * hub-and-spoke). Read next to [[degreeDistribution]] (how skewed)
    * and [[clusteringCoefficient]] (how cliquish) before choosing a
    * partitioning strategy for per-key joins.
    *
    * Exactness: all moments are integer sums over (deg(u), deg(v))
    * pairs accumulated as DECIMAL(38,0) (the [[graft.operators.Stats]]
    * correlation discipline); ONE final fixed-shape double formula.
    * Scale: one degree rollup + two broadcast joins onto the edge
    * list + one map-side-combined aggregate.
    * Output: (n_stubs, assortativity rounded 6) — 1 row.
    */
  def degreeAssortativity(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame = {
    val edges = copurchaseEdges(spark, dir, minShared)
    val deg = degreesOf(spark, dir, minShared)
    val bidir = edges.unionAll(
      edges.select(col("v").as("u"), col("u").as("v")))
    val dd = bidir
      .join(deg.select(col("node").as("u"), col("deg").as("dx")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dy")), Seq("v"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    dd.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("dx").cast(dec)).as("sx"),
        sum(col("dy").cast(dec)).as("sy"),
        sum((col("dx") * col("dx")).cast(dec)).as("sxx"),
        sum((col("dy") * col("dy")).cast(dec)).as("syy"),
        sum((col("dx") * col("dy")).cast(dec)).as("sxy"))
      .select(col("n").cast("long").as("n_stubs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          / sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
          6).as("assortativity"))
  }

  /** Connected components of a two-column Long edge relation: every
    * node labeled with the minimum id of its component. Without a
    * `universe` the output is (node, component) for every node incident
    * to an edge. With one, the output is the universe's columns (the
    * first holds the node ids) plus `component`, and a universe id with
    * no edge labels itself.
    *
    * Up to the `driver-edges` registry bound ([[GraftOps.driverOr]])
    * the driver leg labels the edges with [[unionFind]] and
    * broadcast-joins the labels to the universe; past it
    * [[starContractionComponents]] labels them in O(log n) distributed
    * rounds, joined without a broadcast hint. GraphOpsSpec pins both
    * legs to the same labels.
    */
  private[graft] def componentLabels(edges: DataFrame,
      universe: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    graft.plans.GraftOps.driverOr(edges.as[(Long, Long)], "driver-edges")(
      componentsDriver(spark, _, universe))(
      componentsDistributed(edges, universe))
  }

  /** Driver leg of [[componentLabels]] over the collected edge list. */
  private[graft] def componentsDriver(spark: SparkSession,
      es: Array[(Long, Long)], universe: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val labels = unionFind(es).toDF("node", "component")
    universe.fold(labels)(labelUniverse(_, broadcast(labels)))
  }

  /** Past-bound leg of [[componentLabels]]. */
  private[graft] def componentsDistributed(edges: DataFrame,
      universe: Option[DataFrame]): DataFrame = {
    val labels = starContractionComponents(edges)
    universe.fold(labels)(labelUniverse(_, labels))
  }

  private def labelUniverse(universe: DataFrame, labels: DataFrame)
      : DataFrame = {
    val id = universe.columns.head
    universe.join(labels.withColumnRenamed("node", id), Seq(id), "left")
      .select(universe.columns.map(col) :+
        coalesce(col("component"), col(id)).as("component"): _*)
  }

  /** Path-compressed union-find over an edge list: every node incident
    * to an edge mapped to its component's minimum. The one driver
    * union-find: [[componentLabels]] runs it on Long ids,
    * [[TextOps.typoLabelDictionary]] on vocabulary words.
    */
  private[graft] def unionFind[T](es: Array[(T, T)])(
      implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(v => (v, find(v))).toSeq
  }

  /** Execution scope for node-bounded ITERATIVE loops: every round
    * plans against a fresh LogicalRDD, so whole-stage codegen
    * recompiles ~6 generated classes per round — ~1 s/round of pure
    * COMPILATION on relations of a few thousand rows — and 32-way
    * shuffles of near-empty tasks add scheduling on top. Interpreted
    * execution at 8 partitions is instant at node scale; both knobs
    * restore after (the corpus-shaped work outside the loop keeps its
    * codegen). At 100 TB node counts the knob moves with the graph —
    * AQE's partition coalescing covers the shuffle half dynamically.
    */
  private[operators] def withIterativeExecution[T](
      spark: SparkSession)(f: => T): T = {
    val pKey = "spark.sql.shuffle.partitions"
    val cgKey = "spark.sql.codegen.wholeStage"
    val prevP = spark.conf.get(pKey)
    val prevCg = spark.conf.get(cgKey, "true")
    spark.conf.set(pKey, "8")
    spark.conf.set(cgKey, "false")
    try f
    finally {
      spark.conf.set(pKey, prevP)
      spark.conf.set(cgKey, prevCg)
    }
  }

  /** Connected components by alternating star contractions (Kiveris
    * et al., "Connected Components in MapReduce and Beyond"), run to a
    * fixpoint with per-round materialization (persist, force, drop the
    * previous round). Returns (node, component) for every node incident
    * to an edge of the two-column Long relation, component = the
    * component's minimum node id. The round count is O(log n) whatever
    * the component diameter, where min-label propagation pays one
    * round per hop.
    *
    * The fixpoint runs as a PURE RDD loop over (Long, Long) pairs —
    * the textbook justified RDD use: a DataFrame loop re-plans every
    * round against a fresh LogicalRDD (Catalyst analysis + optimizer +
    * ~6 recompiled codegen classes per round on relations of a few
    * thousand rows), while the RDD operators below compile ONCE and
    * each round is plain reduceByKey/join/distinct over primitive
    * pairs (the GraphX shape). A shared HashPartitioner keeps the
    * star joins co-partitioned, so per round only the symmetrized /
    * re-directed edge set shuffles. At 100 TB node counts the
    * partition count moves with the graph.
    */
  private[graft] def starContractionComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism / 4, 2)
    val part = new org.apache.spark.HashPartitioner(parts)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // one large-star round (Kiveris et al.): every node links its
    // strictly-larger neighbors to the minimum of its closed
    // neighborhood
    def largeStarR(e: org.apache.spark.rdd.RDD[(Long, Long)]) = {
      val sym = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      val m = sym.reduceByKey(part, math.min(_: Long, _: Long))
        .mapPartitions(_.map { case (u, mn) => (u, math.min(mn, u)) },
          preservesPartitioning = true) // closed-neighborhood min, no reshuffle
      sym.partitionBy(part)
        .join(m)
        .flatMap { case (u, (v, mm)) =>
          if (v > u && v != mm) Iterator((v, mm)) else Iterator.empty }
        .distinct(parts)
    }

    // one small-star round: with edges directed (hi -> lo), every node
    // relinks its smaller neighbors (and itself) to its minimum
    // neighbor
    def smallStarR(e: org.apache.spark.rdd.RDD[(Long, Long)]) = {
      val dir = e.map { case (u, v) => (math.max(u, v), math.min(u, v)) }
        .filter { case (u, v) => u != v }
      val m = dir.reduceByKey(part, math.min(_: Long, _: Long))
      dir.partitionBy(part)
        .join(m)
        .flatMap { case (_, (v, mm)) =>
          if (v != mm) Iterator((v, mm)) else Iterator.empty }
        .union(m)
        .distinct(parts)
    }

    val canon = edges.as[(Long, Long)].rdd
      .map { case (u, v) => (math.max(u, v), math.min(u, v)) }
    // a node whose only edge is a self-loop never enters a star; it
    // still labels itself
    val loops = canon.filter { case (u, v) => u == v }
    var e = canon.filter { case (u, v) => u != v }
      .distinct(parts)
      .persist(lvl)
    var eCount = e.count()
    var converged = eCount == 0
    var rounds = 0
    while (!converged && rounds < 50) {
      val ls = largeStarR(e).persist(lvl)
      ls.count() // materialize: smallStar reads it twice (dir + join)
      val next = smallStarR(ls).persist(lvl)
      val nextCount = next.count()
      ls.unpersist(false)
      // both sides are distinct sets: equal iff same size and no novel pair
      converged = nextCount == eCount && next.subtract(e, parts).isEmpty()
      e.unpersist(false)
      e = next
      eCount = nextCount
      rounds += 1
    }
    // fixpoint is a star forest: every surviving edge points a node at
    // its component minimum; the minima themselves are their own label
    e.flatMap { case (u, v) => Iterator((u, v), (v, v)) }
      .union(loops)
      .reduceByKey(part, math.min(_: Long, _: Long))
      .toDF("node", "component")
  }

  /** Declared star-contraction components of the co-purchase graph at
    * `minShared` = 6 (the dense-enough slice whose closure the DuckDB
    * recursive-CTE oracle replays). Output: (node, component).
    */
  def componentsStarContraction(spark: SparkSession, dir: String,
      minShared: Int = 6): DataFrame =
    starContractionComponents(copurchaseEdges(spark, dir, minShared))

  /** Deterministic SYNCHRONOUS label propagation (community
    * detection): every node starts as its own label; each round every
    * node simultaneously adopts the MODE of its neighbors' previous
    * labels, ties to the smallest label — classic async LPA is
    * scan-order-dependent and non-reproducible, the synchronous
    * min-tie variant is a pure function of the graph, so the DuckDB
    * oracle unrolls the same `rounds` as CTE stages (the k-means
    * discipline applied to graphs). Output: (node, community) after
    * `rounds` rounds.
    *
    * Scale shape: per round, ONE equi-join of the (node-sized) label
    * relation against the edge list plus two partial-aggregatable
    * groupBys ((node, lbl) counts, then max_by per node) — the same
    * per-round cost as PageRank, run as an RDD loop so plan size stays
    * constant (see [[starContractionComponents]]).
    */
  def labelPropagation(spark: SparkSession, dir: String,
      minShared: Int = 4, rounds: Int = 3): DataFrame =
    // memoized: graph_communities serves this relation directly and
    // graph_modularity consumed a FULL second LPA run (3 rounds of
    // join + two aggregations) before the memo (§7.2); synchronous
    // min-tie LPA is a pure function of the graph, so the persisted
    // relation is bit-identical to a fresh run
    graft.IndexCache.persisted(spark, "graph-labels", dir, minShared, rounds) {
      labelPropagationUncached(spark, dir, minShared, rounds)
    }

  /** The LPA fixpoint as a PURE RDD loop over primitive pairs — the
    * same justification as [[starContractionComponents]]: the
    * DataFrame loop re-planned every round against a fresh LogicalRDD
    * and paid one localCheckpoint materialization per round, on a
    * relation of a few thousand rows. No checkpoint pins the result:
    * the memo recomputes from shuffle lineage after a cache release. Here the adjacency is keyed by neighbor under a
    * shared HashPartitioner once, labels come back keyed by node under
    * the SAME partitioner, so every round's join is co-partitioned
    * (zero join shuffle) and only the two reduceByKey passes move data.
    * The per-round pick — max neighbor-label count, ties to the
    * smaller label — is an associative/commutative reduce, so the
    * result is bit-identical to the former
    * `max_by(lbl, struct(c, -lbl))` aggregation (GraphOpsSpec pins the
    * semantics against a reference implementation).
    */
  private def labelPropagationUncached(spark: SparkSession, dir: String,
      minShared: Int, rounds: Int): DataFrame = {
    import spark.implicits._
    val e = copurchaseEdges(spark, dir, minShared)
    val parts = math.max(spark.sparkContext.defaultParallelism / 4, 2)
    val part = new org.apache.spark.HashPartitioner(parts)
    // (nbr -> node): joined against labels keyed by node each round
    val byNbr = e.select(col("u"), col("v")).as[(Long, Long)].rdd
      .flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      .partitionBy(part)
    // not persisted: the memo's lineage must survive a cache release,
    // and each round reads the partitioned adjacency's shuffle output
    var labels = byNbr.keys.distinct(parts)
      .map(n => (n, n)).partitionBy(part)
    (1 to rounds).foreach { _ =>
      labels = byNbr.join(labels) // co-partitioned: no shuffle
        .map { case (_, (node, lbl)) => ((node, lbl), 1L) }
        .reduceByKey(_ + _)
        .map { case ((node, lbl), c) => (node, (lbl, c)) }
        .reduceByKey(part, (a, b) =>
          if (a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)) a else b)
        .mapValues(_._1) // keeps the node partitioning
    }
    labels.toDF("node", "community")
  }

  /** Newman modularity of the [[labelPropagation]] communities — the
    * quality score community detection is judged by (Newman & Girvan
    * 2004): Q = Σ_c [ e_c/m − (d_c/2m)² ], where e_c counts edges
    * INSIDE community c, d_c sums its nodes' degrees, and m is the
    * edge total. Q > 0 means denser-than-random partitions; the
    * per-community contribution also ranks which communities are real
    * structure vs hairball residue. Reported exactly: the contribution is the
    * integer (4·m·e_c − d_c²) scaled by 1e6/(4m²) with ONE final
    * half-up round per community, so the DuckDB oracle replays the
    * identical arithmetic.
    *
    * Scale shape: two node-sized equi-joins of the label relation
    * against the (memoized) edge list and one community rollup —
    * strictly cheaper than a single LPA round; the m total reduces to
    * ONE broadcast row. Output per community:
    * (community, n_nodes, e_in, d_sum, q_micro).
    */
  def modularity(spark: SparkSession, dir: String,
      minShared: Int = 4, rounds: Int = 3): DataFrame = {
    val e = copurchaseEdges(spark, dir, minShared) // (u, v), u < v
    val labels = labelPropagation(spark, dir, minShared, rounds)
    val lu = labels.select(col("node").as("u"), col("community").as("cu"))
    val lv = labels.select(col("node").as("v"), col("community").as("cv"))
    val inner = e.join(lu, "u").join(lv, "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("e_in"))
    val deg = degreesOf(spark, dir, minShared)
      .select(col("node"), col("deg").as("d"))
    val dsum = deg.join(labels, "node").groupBy(col("community"))
      .agg(sum(col("d")).as("d_sum"), count(lit(1)).as("n_nodes"))
    val mrow = e.agg(count(lit(1)).as("m"))
    dsum.join(inner, Seq("community"), "left")
      .crossJoin(broadcast(mrow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"), col("m"))
      .select(col("community"), col("n_nodes"), col("e_in"), col("d_sum"),
        round((lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
          * lit(1000000.0) / (lit(4.0) * col("m") * col("m")), 0)
          .cast("long").as("q_micro"))
  }

  /** Link prediction over the co-purchase graph: Adamic–Adar scores
    * for the top non-adjacent candidate pairs. For every 2-path
    * u—z—w (u < w) the middle node contributes 1/ln(deg(z)); pairs
    * already connected are anti-joined away and the `topK` highest
    * scores are kept (score desc, then (u, w) — fully deterministic).
    *
    * Float hygiene for the hash gate: each contribution is quantized
    * to an exact micro-unit LONG (`round(1e9/ln(deg))`) before the
    * sum, so the aggregate is order-independent integer arithmetic —
    * the [[pageRank]] exact-arithmetic discipline. `common` (the raw
    * common-neighbor count) rides along as the classic baseline score.
    *
    * Scale shape: the 2-path expansion is the same Σ deg(z)² relation
    * the triangle census walks — bounded by hub degree, and the
    * standard hub-cap prune drops in per node without changing the
    * plan (declared on the minShared=4 cut, where co-purchase overlap
    * is signal: the >= 2 cut is a near-complete hairball whose 62M
    * 2-paths at sf0.1 are all Adamic-Adar noise). The degree relation
    * is node-sized, so its join strategy is
    * LEFT TO THE OPTIMIZER: small graphs broadcast it, a 1e9-node
    * graph equi-joins on z (both sides already shuffle-partitioned by
    * z from the expansion). The final top-k is a `TakeOrdered`, never
    * a global sort.
    */
  def linkPrediction(spark: SparkSession, dir: String,
      minShared: Int = 4, topK: Int = 20): DataFrame = {
    val adj = bidirAdjacency(spark, dir, minShared) // (u, v), both dirs
    val deg = adj.groupBy(col("u").as("z")).agg(count(lit(1)).as("d"))
    // a degree-1 node can never sit mid-2-path (its only u==w pair is
    // filtered), so dropping it BEFORE the division both preserves
    // semantics and keeps ln(d) > 0 — without the filter a shuffle-join
    // plan evaluates the projection for every node and ANSI mode
    // raises DIVIDE_BY_ZERO on ln(1) (hit at sf0.1)
    val contrib = deg.filter(col("d") >= 2).select(col("z"),
      round(lit(1e9) / log(col("d"))).cast("long").as("aa"))
    val paths = adj.select(col("u"), col("v").as("z"))
      .join(adj.select(col("u").as("z"), col("v").as("w")), Seq("z"))
      .filter(col("u") < col("w"))
    val scored = paths.join(contrib, Seq("z"))
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("common"), sum(col("aa")).as("aa_micro"))
    val edges = copurchaseEdges(spark, dir, minShared)
    scored.join(edges.select(col("u"), col("v").as("w")), Seq("u", "w"),
        "left_anti")
      .orderBy(col("aa_micro").desc, col("u"), col("w"))
      .limit(topK)
      .select(col("u"), col("w"), col("common"), col("aa_micro"))
  }
}
