package graft.knn

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions._

/** Brute-force exact k-nearest-neighbor search, the reference's core
  * operator (`/root/reference/src/exact_knn.rs:27-38`), re-expressed as a
  * declarative Spark plan:
  *
  *   base.crossJoin(broadcast(queries))          // J1, nested-loop theta-join
  *       .withColumn("dist", cosineDistance)     // A1-A4 as codegen'd HOFs
  *       -> per-query top-k                      // T1
  *
  * Scale notes (100 TB thinking):
  *   - The query side is the small side (5% held-out, or a user batch) and
  *     is ALWAYS broadcast, so the cross product never shuffles the base
  *     table: one pass over base per partition, map-side only.
  *   - Single-query top-k goes through `orderBy().limit(k)` which Catalyst
  *     plans as `TakeOrderedAndProject` (bounded heap per partition + driver
  *     merge of P*k rows, no global sort).
  *   - Batch top-k runs the bounded-heap [[graft.plans.TopKPerGroup]]
  *     operator over (qid) groups; the shuffle carries only
  *     (qid, id, dist) triples, never the vectors.
  *
  * Distances are rounded to 6 decimals BEFORE ranking so that rank order
  * and output hash-match the DuckDB oracle despite FP fold-order noise,
  * with `vec_id` as the deterministic tie-break (SURVEY.md §7.4; the
  * reference relies on Rust's stable sort, exact_knn.rs:34).
  */
object ExactKnn {

  /** Deterministic 95/5 prefix split by vec_id, mirroring
    * `/root/reference/src/dataset.rs:19-23` (round half-up like Rust).
    * Returns (base, queries, splitAt, n).
    */
  def split(spark: SparkSession, dir: String, ratio: Double = 0.95)
      : (DataFrame, DataFrame, Long, Long) = {
    // Memoized per (session, dir, ratio): ~40 declared rows call split,
    // and before the memo EVERY call re-ran the density-check stats job
    // AND re-planned (and re-shuffled) the widen of the base — one
    // eager aggregate plus one ~|base| round-robin exchange per query
    // construction, pure serve-path overhead (guide §7.2 duplicated
    // work). Now the stats job runs once, the widened base is persisted
    // once (MEMORY_AND_DISK — the same footprint class as the norm-emb
    // cache, charged to the first bench_build row that touches it), and
    // every consumer reads the cached executor-width relation with no
    // per-call exchange. The base is its own persisted entry, so it is
    // re-cached on the first hit after a bench cache release.
    lazy val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("emb"))
    val (queries, splitAt, n) =
        graft.IndexCache.getOrBuild(spark, "split", dir, ratio) {
      // the prefix slices below (and every percentile slab derived from
      // them across the ANN lifecycles) assume DENSE ids 0..n-1; on a
      // sparse or non-contiguous id space they would silently shift or
      // empty out, so the invariant is asserted where the boundaries
      // are computed (r6 advice item). One job: count+min+max together.
      val stats = Tables.embeddings(spark, dir)
        .agg(org.apache.spark.sql.functions.count(col("vec_id")),
          org.apache.spark.sql.functions.min(col("vec_id")),
          org.apache.spark.sql.functions.max(col("vec_id"))).head()
      val nn = stats.getLong(0)
      require(nn == 0 ||
          (stats.getLong(1) == 0L && stats.getLong(2) == nn - 1),
        s"vec_id must be dense 0..${nn - 1}, got " +
          s"[${stats.getLong(1)}, ${stats.getLong(2)}]")
      val sAt = math.round(ratio * nn)
      (emb.filter(col("vec_id") >= sAt), sAt, nn)
    }
    val base = graft.IndexCache.persisted(spark, "split", dir, ratio, "base") {
      // base feeds the broadcast-NLJ distance kernels and the ANN index
      // builds — widen it so the per-row distance work spreads across
      // cores even when the fixture arrives as one input split (no-op
      // on any multi-split table; queries side stays narrow, it
      // broadcasts). CAPPED at 8 like every persisted memo: the heavy
      // kernels lose ~10% vs full width (driver c8 vs c32 evidence on
      // bench_build_exact_gt) while every cheap serve job over the
      // cached base pays 8 task launches instead of executor-width.
      graft.plans.GraftOps.widenTo(emb.filter(col("vec_id") < splitAt),
        math.min(8, spark.sparkContext.defaultParallelism))
    }
    (base, queries, splitAt, n)
  }

  /** Rounded engine-wide distance used by every declared kNN query —
    * the fused codegen expression (bit-identical to the HOF
    * [[graft.functions.VectorFunctions.distance]], just one loop).
    */
  def dist(a: Column, b: Column): Column =
    round(graft.functions.ArrayMath.cosineDistance(a, b), 6)

  /** Single-query top-k under EUCLIDEAN distance (the reference's A5 —
    * implemented there but never called, `vector.rs:23-29`; surfaced
    * here as a first-class metric choice). Output: (vec_id, dist) asc.
    */
  def topKSingleEuclidean(spark: SparkSession, dir: String, k: Int = 10,
      queryIdx: Long = 29): DataFrame = {
    val (base, _, splitAt, n) = split(spark, dir)
    val qid = splitAt + (queryIdx % (n - splitAt))
    val q = broadcast(
      Tables.embeddings(spark, dir).filter(col("vec_id") === qid)
        .select(toDoubleArray(col("embedding")).as("qvec")))
    base.crossJoin(q)
      .select(col("vec_id"),
        round(euclideanDistance(col("emb"), col("qvec")), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Single-query top-k under MAXIMUM INNER PRODUCT (MIPS) — the
    * retrieval mode recommender scoring uses (unnormalized affinity;
    * NOT equivalent to cosine unless vectors are normalized). Same
    * broadcast-NLJ scan + TakeOrderedAndProject shape as the cosine
    * single; score DESC with vec_id tie-break.
    * Output: (vec_id, score) descending.
    */
  def topKSingleMips(spark: SparkSession, dir: String, k: Int = 10,
      queryIdx: Long = 29): DataFrame = {
    val (base, _, splitAt, n) = split(spark, dir)
    val qid = splitAt + (queryIdx % (n - splitAt))
    val q = broadcast(
      Tables.embeddings(spark, dir).filter(col("vec_id") === qid)
        .select(toDoubleArray(col("embedding")).as("qvec")))
    base.crossJoin(q)
      .select(col("vec_id"),
        round(dot(col("emb"), col("qvec")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Top-k nearest base rows for ONE held-out query (the reference's
    * `query[29]` single search, `/root/reference/src/main.rs:78-81`;
    * index taken mod the query-set size to fit any SF).
    * Output: (vec_id, dist) ascending.
    */
  def topKSingle(spark: SparkSession, dir: String, k: Int = 10,
                 queryIdx: Long = 29): DataFrame = {
    val (base, _, splitAt, n) = split(spark, dir)
    val qid = splitAt + (queryIdx % (n - splitAt))
    val q = broadcast(
      Tables.embeddings(spark, dir).filter(col("vec_id") === qid)
        .select(toDoubleArray(col("embedding")).as("qvec")))
    base.crossJoin(q)
      .select(col("vec_id"), dist(col("emb"), col("qvec")).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k) // planned as TakeOrderedAndProject (bounded heap)
  }

  /** Radius (range) search: all base points within cosine distance
    * `radius` of each of the first `nq` held-out queries. The distance
    * predicate evaluates inside the broadcast nested-loop join, so the
    * base table streams through once and only matches ever materialize —
    * the pattern scales to any base size (no top-k state at all).
    * Output: (qid, vec_id, dist).
    */
  def rangeSearch(spark: SparkSession, dir: String, radius: Double = 0.7,
      nq: Int = 20): DataFrame = {
    val (base, queries, splitAt, _) = split(spark, dir)
    val q = broadcast(queries.filter(col("vec_id") < splitAt + nq)
      .select(col("vec_id").as("qid"), col("emb").as("qvec")))
    base.crossJoin(q)
      .select(col("qid"), col("vec_id"), dist(col("emb"), col("qvec")).as("dist"))
      .filter(col("dist") <= radius)
  }

  /** Filtered (predicate + vector) search: top-k among only the base
    * vectors whose `label` matches — the metadata filter applies BEFORE
    * any distance is computed (pushed to the parquet scan), which is the
    * scale-correct order: at 100 TB a 10% selective label prunes 90% of
    * the distance work and of the scan itself via row-group stats.
    * Output: (qid, vec_id, dist, rk) for the first `nq` queries.
    */
  def topKBatchFiltered(spark: SparkSession, dir: String, label: Int = 3,
      k: Int = 10, nq: Int = 50): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val splitAt = math.round(0.95 * n)
    val base = emb.filter(col("vec_id") < splitAt && col("label") === label)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("emb"))
    val q = broadcast(emb
      .filter(col("vec_id") >= splitAt && col("vec_id") < splitAt + nq)
      .select(col("vec_id").as("qid"), toDoubleArray(col("embedding")).as("qvec")))
    val scored = base.crossJoin(q)
      .select(col("qid"), col("vec_id"), dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** FACETED search: top-`k` per (query, label) — "best matches within
    * every category at once", the retrieval shape faceted navigation
    * and per-domain evidence selection need. One distance scan (the
    * same broadcast-NLJ as [[topKBatch]], label riding along from the
    * base scan) into ONE bounded-heap pass grouped by (qid, label) —
    * never a per-facet re-query, never a sort. Output:
    * (qid, label, vec_id, dist, rk).
    */
  def topKPerLabelBatch(spark: SparkSession, dir: String, k: Int = 3,
      nq: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val splitAt = math.round(0.95 * n)
    val base = emb.filter(col("vec_id") < splitAt)
      .select(col("vec_id"), col("label"),
        toDoubleArray(col("embedding")).as("emb"))
    val q = broadcast(emb
      .filter(col("vec_id") >= splitAt && col("vec_id") < splitAt + nq)
      .select(col("vec_id").as("qid"), toDoubleArray(col("embedding")).as("qvec")))
    val scored = base.crossJoin(q)
      .select(col("qid"), col("label"), col("vec_id"),
        dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("qid", "label"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** HARD-NEGATIVE mining — the contrastive-training data step: for
    * each query, the nearest base vectors whose label DIFFERS from the
    * query's own (close in embedding space, semantically wrong — the
    * negatives that actually teach a bi-encoder, vs
    * [[graft.operators.Pipeline.negativeSampling]]'s uniform draws).
    *
    * Plan shape: the same broadcast-NLJ distance scan as [[topKBatch]]
    * with the query's label riding in the broadcast; the `label !=
    * qlabel` predicate evaluates INSIDE the scan stage (codegen'd,
    * before any shuffle) and one bounded-heap pass keeps top-k per
    * query — at 100 TB this is one pass over the base table, the same
    * cost as the unfiltered scan. Output: (qid, vec_id, dist, rk).
    */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 10,
      nq: Int = 50): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val splitAt = math.round(0.95 * n)
    val base = emb.filter(col("vec_id") < splitAt)
      .select(col("vec_id"), col("label"),
        toDoubleArray(col("embedding")).as("emb"))
    val q = broadcast(emb
      .filter(col("vec_id") >= splitAt && col("vec_id") < splitAt + nq)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        toDoubleArray(col("embedding")).as("qvec")))
    val scored = base.crossJoin(q)
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** `insert_many` then search (the reference's index mutation path,
    * `/root/reference/src/index.rs:7-9` — build on a base, append more
    * vectors, and every later search sees them): the base is the first
    * 90% prefix, the 90–95% slab arrives through
    * [[graft.sources.Ingest.insertMany]] (bag union), and the held-out
    * queries search the union. The oracle phrases the same search over
    * the full 95% prefix directly, so a hash-match proves the union is
    * exactly an append (no dropped/duplicated rows, no schema drift).
    * Output: (qid, vec_id, dist, rk) for the first `nq` queries.
    */
  def topKAfterInsert(spark: SparkSession, dir: String, k: Int = 10,
      nq: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("emb"))
    val n = Tables.embeddings(spark, dir).count()
    val s90 = math.round(0.90 * n)
    val s95 = math.round(0.95 * n)
    val base = graft.sources.Ingest.insertMany(
      emb.filter(col("vec_id") < s90),
      emb.filter(col("vec_id") >= s90 && col("vec_id") < s95))
    val q = broadcast(emb
      .filter(col("vec_id") >= s95 && col("vec_id") < s95 + nq)
      .select(col("vec_id").as("qid"), col("emb").as("qvec")))
    val scored = base.crossJoin(q)
      .select(col("qid"), col("vec_id"), dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** `delete` then search — the other half of the index-mutation
    * surface next to [[topKAfterInsert]]: the 80–90% vec_id slab is
    * dropped through [[graft.sources.Ingest.deleteByKey]] (left-anti
    * on the key) and the held-out queries search what remains. The
    * oracle phrases the same search with the slab excluded by
    * predicate, so a hash-match proves the delete removed exactly the
    * keyed rows — no survivors, no collateral. Output:
    * (qid, vec_id, dist, rk) for the first `nq` queries.
    */
  def topKAfterDelete(spark: SparkSession, dir: String, k: Int = 10,
      nq: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("emb"))
    val n = Tables.embeddings(spark, dir).count()
    val s80 = math.round(0.80 * n)
    val s90 = math.round(0.90 * n)
    val s95 = math.round(0.95 * n)
    val base = graft.sources.Ingest.deleteByKey(
      emb.filter(col("vec_id") < s95),
      emb.filter(col("vec_id") >= s80 && col("vec_id") < s90)
        .select(col("vec_id")),
      "vec_id")
    val q = broadcast(emb
      .filter(col("vec_id") >= s95 && col("vec_id") < s95 + nq)
      .select(col("vec_id").as("qid"), col("emb").as("qvec")))
    val scored = base.crossJoin(q)
      .select(col("qid"), col("vec_id"), dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** Exact ground truth for a DETERMINISTIC 1-in-`everyNth` sample of
    * the held-out queries (every Nth qid from the split point) — the
    * scale-honest evaluation mode: at 100 TB the full exact ground
    * truth is O(|queries| x |base|) = O(n²), while a fixed sample keeps
    * the brute-force leg O(n) and recall estimates converge at a few
    * hundred queries regardless of corpus size. Same output shape and
    * semantics as [[topKBatch]] restricted to the sampled qids (pinned
    * by spec).
    */
  def topKBatchSampled(spark: SparkSession, dir: String, k: Int = 10,
      everyNth: Int = 10): DataFrame =
    graft.IndexCache.persisted(spark, "exact-topk-sampled", dir, k, everyNth) {
      val (base, queries, splitAt, _) = split(spark, dir)
      val sampled = queries.filter(
        pmod(col("vec_id") - splitAt, lit(everyNth)) === 0)
      val q = broadcast(sampled.select(col("vec_id").as("qid"),
        col("emb").as("qvec")))
      val scored = base.crossJoin(q)
        .select(col("qid"), col("vec_id"), dist(col("emb"), col("qvec")).as("dist"))
      graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
        Seq("dist" -> true, "vec_id" -> true), k)
    }

  /** Exact re-rank of an overfetched candidate set (the refine step of
    * [[TwoStage.search]], shared by every compressed family): fetch
    * only the candidates' full vectors, score them against the query
    * relation, keep top-k.
    * Touches (queries x overfetch*k) vectors, never the base table.
    * The join strategy is left to the optimizer: at typical batch
    * sizes it broadcasts the small side; at a huge query split AQE
    * picks a shuffled join on qid instead of forcing the whole split
    * through the driver's broadcast collect.
    */
  private[graft] def rerank(cand: DataFrame, base: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("emb").as("qvec"))
    val exact = cand.join(base, "vec_id").join(q, "qid")
      .select(col("qid"), col("vec_id"), dist(col("emb"), col("qvec")).as("dist"))
    graft.plans.GraftOps.topKPerGroup(exact, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), k)
  }

  /** MUTUAL (reciprocal) k-nearest-neighbor pairs over the base split:
    * (a, b) with a < b where b ∈ topk(a) AND a ∈ topk(b) — the
    * high-precision neighborhood evidence clustering and dedup layers
    * build on (one-directional neighbors are hub-polluted; mutual
    * pairs are not). Self-matches excluded before ranking.
    *
    * Scale status: the self top-k scan is the declared small-regime
    * exact yardstick (the flat broadcast-matrix kernel — the
    * neardup_embedding discipline); at corpus scale the same mutual
    * filter runs over any ANN family's batch result instead, and the
    * LSH-bucketed near-dup leg is the standing scale path. The mutual
    * filter itself is one self-join of the (n·k)-row top-k relation —
    * bounded by construction. Output: (vec_a, vec_b, dist).
    */
  def mutualKnnPairs(spark: SparkSession, dir: String, k: Int = 5,
      panelTarget: Long = 2000L): DataFrame = {
    // deterministic ~panelTarget-vector universe (the
    // knn_exact_batch_sampled discipline, r13 verdict #1): mutuality
    // needs top-k in BOTH directions, so the panel restricts the whole
    // universe — stride 1 (the full relation) at the sf0.01 oracle
    // tier, (panel)² ≈ 4M replayable pair distances at derived tiers
    val (_, _, splitAt, _) = split(spark, dir)
    val uStride = math.max(1L, splitAt / panelTarget)
    val topk = selfTopK(spark, dir, k, uStride = uStride)
    val fwd = topk.filter(col("qid") < col("vec_id"))
      .select(col("qid").as("vec_a"), col("vec_id").as("vec_b"),
        col("dist"))
    val rev = topk.select(col("vec_id").as("vec_a"),
      col("qid").as("vec_b"))
    fwd.join(rev, Seq("vec_a", "vec_b"))
  }

  /** The memoized BASE-side self top-k relation (n·k rows — tiny to
    * persist) behind [[mutualKnnPairs]] and the hubness diagnostic:
    * the expensive self scan runs once per dataset, charged to its
    * bench_build row; derivations are joins over the cached relation.
    *
    * Two deterministic stride knobs bound the quadratic term so the
    * DuckDB oracle can REPLAY the relation at derived tiers (r13
    * verdict #1) instead of pinning a generation literal:
    *  - `uStride` restricts the UNIVERSE (both query and candidate
    *    sides) to `vec_id % uStride == 0` — the panel form mutual-kNN
    *    rides (mutuality needs both directions inside one universe);
    *  - `qStride` additionally restricts the QUERY side only — the
    *    anchored form hubness rides (k-occurrence against the FULL
    *    candidate set, counted from a deterministic query panel).
    * Both resolve to 1 at the sf0.01 oracle tier, so the base-tier
    * relation is bit-identical to the historical full form.
    */
  def selfTopK(spark: SparkSession, dir: String, k: Int = 5,
      qStride: Long = 1L, uStride: Long = 1L): DataFrame =
    graft.IndexCache.persisted(spark, "self-topk", dir, k, qStride, uStride)(
      selfTopKUncached(spark, dir, k, qStride, uStride))

  private def selfTopKUncached(spark: SparkSession, dir: String,
      k: Int, qStride: Long, uStride: Long): DataFrame = {
    import spark.implicits._
    val (base, _, _, _) = split(spark, dir)
    val universe =
      if (uStride == 1L) base
      else base.filter(pmod(col("vec_id"), lit(uStride)) === 0)
    val rows = universe.select(col("vec_id"), col("emb"))
      .as[(Long, Array[Double])]
    // flat broadcast-matrix kernel (the embeddingNearDupExactNormalized
    // plan shape): the NLJ form materialized two 64-dim arrays per
    // ordered pair before the distance ran — measured 5.7 s vs 1.3 s
    // at sf0.1 for the identical rounded values
    val side = rows.collect().sortBy(_._1)
    val m = side.length
    val dim = if (m == 0) 0 else side(0)._2.length
    val ids = side.map(_._1)
    val flat = new Array[Double](m * dim)
    var r = 0
    while (r < m) {
      System.arraycopy(side(r)._2, 0, flat, r * dim, dim); r += 1
    }
    val norms = Array.tabulate(m) { i =>
      var s = 0.0; var t = 0
      while (t < dim) { val v = flat(i * dim + t); s += v * v; t += 1 }
      math.sqrt(s)
    }
    val bc = spark.sparkContext.broadcast((ids, flat, norms))
    val kk = k
    val queries =
      if (qStride == 1L) rows
      else universe.filter(pmod(col("vec_id"), lit(qStride)) === 0)
        .select(col("vec_id"), col("emb")).as[(Long, Array[Double])]
    // per-row scans are independent: spread them across cores even
    // when the base arrives as one input split
    val topk = queries
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
      val (bIds, bFlat, bNorms) = bc.value
      val mm = bIds.length
      it.flatMap { case (qid, qv) =>
        val d = qv.length
        var sq = 0.0; var i = 0
        while (i < d) { sq += qv(i) * qv(i); i += 1 }
        val qn = math.sqrt(sq)
        // bounded (dist, id)-ascending insertion buffer of size k
        val bd = new Array[Double](kk)
        val bi = new Array[Long](kk)
        var cnt = 0
        var j = 0
        while (j < mm) {
          if (bIds(j) != qid) {
            var s = 0.0; var t = 0; val off = j * d
            while (t < d) { s += qv(t) * bFlat(off + t); t += 1 }
            val denom = bNorms(j) * qn
            val c = if (denom == 0.0) 0.0 else math.max(s / denom, 0.0)
            val dv = BigDecimal(1.0 - c)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            val id = bIds(j)
            if (cnt < kk || dv < bd(cnt - 1) ||
                (dv == bd(cnt - 1) && id < bi(cnt - 1))) {
              var p = math.min(cnt, kk - 1)
              while (p > 0 && (bd(p - 1) > dv ||
                  (bd(p - 1) == dv && bi(p - 1) > id))) {
                bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
              }
              bd(p) = dv; bi(p) = id
              if (cnt < kk) cnt += 1
            }
          }
          j += 1
        }
        (0 until cnt).iterator.map(p => (qid, bi(p), bd(p)))
      }
    }.toDF("qid", "vec_id", "dist")
    topk
  }

  /** Top-k for EVERY held-out query at once (batch form of T1), via the
    * custom bounded-heap operator (graft.plans.TopKPerGroup) — one
    * shuffle on qid, O(queries x k) memory instead of a per-group sort.
    * Output: (qid, vec_id, dist, rk).
    */
  def topKBatch(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    // the exact batch result is the ground-truth table every recall /
    // precision evaluation joins against — derive it once per dataset
    // and persist the (queries x k)-row result, never the cross join
    graft.IndexCache.persisted(spark, "exact-topk", dir, k) {
      val (base, queries, _, _) = split(spark, dir)
      val q = broadcast(queries.select(col("vec_id").as("qid"),
        col("emb").as("qvec")))
      val scored = base.crossJoin(q)
        .select(col("qid"), col("vec_id"), dist(col("emb"), col("qvec")).as("dist"))
      graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
        Seq("dist" -> true, "vec_id" -> true), k)
    }
}
