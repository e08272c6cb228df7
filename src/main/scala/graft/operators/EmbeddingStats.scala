package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Embedding-space analytics over the `embeddings` fixture — the
  * aggregate views a training pipeline reads to monitor cluster/label
  * drift (centroid geometry), complementing the per-vector ops in
  * [[graft.knn]] and [[Dedup]].
  */
object EmbeddingStats {

  /** HUBNESS diagnostic (Radovanović et al. 2010, JMLR): the
    * k-occurrence distribution — N_k(v) = how many querying vectors
    * list v in their top-k — with its population skewness. The query
    * panel is a deterministic ~`probeTarget`-anchor stride sample of
    * the base (stride 1, i.e. EVERY base vector queries, at the
    * sf0.01 oracle tier); candidates are always the full base, and
    * N_k = 0 vectors are zero-filled against the full base universe.
    * High-dimensional spaces grow HUBS (vectors in everyone's neighbor
    * list) and anti-hubs; positive skew of N_k is THE standard
    * symptom, and it degrades every kNN consumer (which is exactly why
    * [[mutualKnnClusters]] uses the reciprocal graph). Moments are
    * exact integer sums; the skew is one fixed-order double chain
    * (m2^1.5 as m2·√m2, never pow). Output: (n_occ, n_vecs, skewness)
    * — the histogram with the corpus-level skew attached.
    *
    * Scale shape: one groupBy over the memoized panel·k anchored
    * top-k rows (O(panel·n) to build at any tier — the bound that
    * keeps the DuckDB oracle a real replay at derived tiers, r13
    * verdict #1), a zero-fill join against the base ids, a 1-row
    * moment fold, a ≤max(N_k)-row histogram.
    */
  def hubness(spark: SparkSession, dir: String, k: Int = 5,
      probeTarget: Long = 512L): DataFrame = {
    val (base, _, splitAt, _) = graft.knn.ExactKnn.split(spark, dir)
    // anchored query panel (~probeTarget deterministic stride queries,
    // the twoNN-probe discipline; r13 verdict #1): k-occurrence is
    // counted from the panel's exact top-k against the FULL candidate
    // set, zero-filled over the full base — stride 1 (every base
    // vector queries) at the sf0.01 oracle tier, O(panel·n) at derived
    // tiers so the DuckDB oracle replays the relation instead of
    // pinning it
    val qStride = math.max(1L, splitAt / probeTarget)
    val occ0 = graft.knn.ExactKnn.selfTopK(spark, dir, k, qStride = qStride)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_occ"))
    val occ = base.select(col("vec_id"))
      .join(occ0, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_occ"))
    val m = occ.agg(count(lit(1)).as("n"),
      sum(col("n_occ")).as("s1"),
      sum(col("n_occ") * col("n_occ")).as("s2"),
      sum(col("n_occ") * col("n_occ") * col("n_occ")).as("s3"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mu * mu
    val m3 = col("s3").cast("double") / nD -
      lit(3.0) * mu * (col("s2").cast("double") / nD) +
      lit(2.0) * mu * mu * mu
    occ.groupBy(col("n_occ")).agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(m))
      .select(col("n_occ"), col("n_vecs"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skewness"))
  }

  /** k-occurrence histogram over the SAMPLED exact ground truth
    * ([[graft.knn.ExactKnn.topKBatchSampled]]) — the sf1-replayable
    * hubness face (r10 verdict ask #5): how many sampled queries list
    * each base vector in their exact top-10. The sampled GT is
    * O(|sample|·n) on both engines, so the DuckDB reconstruction stays
    * tractable at the 10x tier where [[hubness]]'s self-top-k oracle is
    * deliberately quadratic. Output: (k_occ, n_vectors) — base vectors
    * never retrieved are not rows here (zero-occurrence counting is
    * [[hubness]]'s job; this is the retrieved-set histogram).
    */
  def hubnessSampled(spark: SparkSession, dir: String): DataFrame =
    graft.knn.ExactKnn.topKBatchSampled(spark, dir)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("k_occ"))
      .groupBy(col("k_occ")).agg(count(lit(1)).as("n_vectors"))
      .select(col("k_occ").cast("long").as("k_occ"),
        col("n_vectors").cast("long").as("n_vectors"))

  /** Connected components of the MUTUAL-kNN graph — embedding-space
    * clustering without a k hyperparameter (Brito et al. 1997: mutual
    * neighborhood graphs consistently recover high-density clusters;
    * reciprocal edges kill hub links, so components are tight groups,
    * not the giant blob one-directional kNN collapses into). Nodes in
    * no mutual pair are singletons and stay out of the output.
    *
    * Scale shape: the edge list is ≤ n·k/2 rows out of
    * [[graft.knn.ExactKnn.mutualKnnPairs]] (ANN-swappable at corpus
    * scale), labeled by [[GraphOps.componentLabels]]: driver union-find
    * under its edge bound, star contraction past it. Output: (vec_id,
    * cluster = component minimum).
    */
  def mutualKnnClusters(spark: SparkSession, dir: String, k: Int = 5)
      : DataFrame =
    // memoized like the dedup cluster relation ("clusters"): the
    // labeling is a build (charged to bench_build_mutual_knn with the
    // pair relation it labels); the declared row serves the persisted
    // labels
    graft.IndexCache.persisted(spark, "mutual-knn-clusters", dir, k) {
      GraphOps.componentLabels(graft.knn.ExactKnn.mutualKnnPairs(spark, dir, k)
          .select(col("vec_a"), col("vec_b")))
        .select(col("node").as("vec_id"), col("component").as("cluster"))
    }

  /** Pairwise euclidean distances between per-label centroids — the
    * label-drift / cluster-separation matrix. Output: one row per
    * unordered label pair (label_a < label_b, dist rounded 6).
    *
    * Exactness across engines: each float coordinate is quantized to an
    * integer (round(v·1e6)) BEFORE the mean, so the per-dimension sums
    * are exact BIGINTs in any accumulation order; the centroid mean and
    * the distance fold then run on bit-identical doubles in a fixed
    * per-dimension order (array fold, like every declared distance).
    *
    * Scale shape: one partial-aggregatable (label, dim) sum over the
    * exploded coordinates, a |labels|-sized centroid relation, and a
    * |labels|²/2 self-join of that tiny relation — the fact table is
    * touched exactly once regardless of vector count.
    */
  /** Isotropy diagnostic of the embedding cloud — how uniformly the
    * unit vectors cover the sphere. An anisotropic embedding space (a
    * dominant "common direction", the well-documented degeneration of
    * contextual embedding models) inflates every cosine similarity and
    * silently breaks cosine-threshold dedup and ANN recall targets, so
    * a 100 TB pipeline gates on this number before trusting them.
    * Measure: the norm of the MEAN unit vector (0 = perfectly
    * isotropic, 1 = all vectors collinear) and `isotropy = 1 - that`.
    *
    * Exactness across engines: each normalized coordinate quantizes to
    * micro-unit longs BEFORE the per-dimension sum (exact in any
    * accumulation order), and each dimension's squared-mean term
    * quantizes to integer 1e-12 units before the cross-dimension sum —
    * the same two-level integer discipline as [[centroidDistances]].
    *
    * Scale shape: ONE map-side-combinable aggregate over the exploded
    * coordinates (dims x partitions partial rows), then arithmetic on
    * a |dims|-row relation — the fact table is scanned once, nothing
    * else moves. Output: (n_vectors, mean_norm, isotropy).
    */
  def isotropy(spark: SparkSession, dir: String,
      q: Long = 1000000L): DataFrame = {
    val n = Dedup.normalizedEmbeddings(spark, dir)
    val dims = n.select(posexplode(transform(col("nv"),
      x => round(x * q, 0).cast("long"))).as(Seq("pos", "qc")))
    val perDim = dims.groupBy(col("pos"))
      .agg(sum(col("qc")).as("qsum"), count(lit(1)).as("cnt"))
    perDim
      .select(col("cnt"),
        round(pow(col("qsum").cast("double") / (col("cnt") * q), 2) * 1e12, 0)
          .cast("long").as("term"))
      .groupBy(col("cnt")).agg(sum(col("term")).as("t2"))
      .select(col("cnt").as("n_vectors"),
        round(sqrt(col("t2").cast("double") / 1e12), 6).as("mean_norm"),
        round(lit(1.0) - sqrt(col("t2").cast("double") / 1e12), 6)
          .as("isotropy"))
  }

  def centroidDistances(spark: SparkSession, dir: String,
      q: Long = 1000000L): DataFrame = {
    val perDim = Tables.embeddings(spark, dir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("v") * q, 0).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("sq").cast("double") / (col("n") * q)).as("m"))
    val cent = perDim.groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("c"))
    val a = cent.select(col("label").as("label_a"), col("c").as("ca"))
    val b = cent.select(col("label").as("label_b"), col("c").as("cb"))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(sqrt(aggregate(
          zip_with(col("ca"), col("cb"), (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, x) => acc + x)), 6).as("centroid_dist"))
  }

  /** Label-conditional outlier screen: the `k` vectors farthest from
    * their own label's centroid — the mislabel / out-of-distribution
    * curation signal a labeled embedding corpus is swept with before
    * training (SemDeDup's cluster geometry, pointed at anomalies
    * instead of duplicates). Output: (vec_id, label, dist rounded 6,
    * rk), ranked (dist desc, vec_id) via the bounded heap.
    *
    * Exactness across engines: centroids use the same
    * quantize-then-sum integer means as [[centroidDistances]], and the
    * per-vector distance is the fixed-order array fold every declared
    * distance uses — so the DuckDB oracle replays the whole screen.
    *
    * Scale shape: one (label, dim) partial-aggregated shuffle for the
    * centroids (|labels|·d rows), centroids broadcast back over ONE
    * map-only pass of the vectors, and the global top-k through
    * [[graft.plans.TopKPerGroup]] — no per-label sort, no pair stage.
    */
  def outlierTopK(spark: SparkSession, dir: String, k: Int = 20,
      q: Long = 1000000L): DataFrame = {
    val perDim = Tables.embeddings(spark, dir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("v") * q, 0).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("sq").cast("double") / (col("n") * q)).as("m"))
    val cent = perDim.groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("c"))
    val scored = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(sqrt(aggregate(
          zip_with(col("v"), col("c"), (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, x) => acc + x)), 6).as("dist"))
    // constant group key = global top-k through the same bounded heap;
    // partialFirst prunes map-side so the single reducer sees <= k rows
    // per input partition, not the corpus
    graft.plans.GraftOps.topKPerGroup(scored.withColumn("g", lit(1)),
      Seq("g"), Seq("dist" -> false, "vec_id" -> true), k,
      partialFirst = true)
      .select(col("vec_id"), col("label"), col("dist"), col("rk"))
  }

  /** Distributed PCA of the embedding cloud via the covariance method —
    * the spectral diagnostic a vector pipeline reads before choosing a
    * reduced dimension (how many Matryoshka/PQ dims carry the
    * variance) or whitening: top-`topK` eigenvalues of the sample
    * covariance with their variance shares.
    *
    * Scale shape (the whole point): ONE pass over the vectors
    * accumulating per-partition (n, Σv, Σvvᵀ) — d + d² doubles of
    * state per partition, d=64 here — then ≤ |partitions| partial rows
    * reduce driver-side, so the fact table never shuffles at all and
    * the driver holds 64×64 numbers regardless of corpus size (the
    * covariance-method PCA every distributed ML library uses for
    * d ≪ n). The eigensolve is a cyclic Jacobi on the 64×64 symmetric
    * covariance — driver-side O(d³), independent of n.
    *
    * Output: (component, eigenvalue, var_share, cum_share) rounded 6,
    * components ranked by eigenvalue desc. Rows-only in the driver
    * gate (no SQL eigensolve exists); EmbeddingStatsSpec pins the
    * distributed moments against a driver recompute and the Jacobi
    * spectrum against known matrices.
    */
  /** One-pass distributed sample covariance of an array-column
    * relation: per-partition (n, Σv, Σvvᵀ) partials — d + d² doubles of
    * state each — reduced driver-side. The fact table never shuffles;
    * the driver holds d×d numbers at any row count. Shared by
    * [[pcaVariance]] and the PCA-projected search family.
    */
  private[graft] def covariance(vecs: org.apache.spark.sql.Dataset[Seq[Double]])
      : (Long, Array[Array[Double]]) = {
    import vecs.sparkSession.implicits._
    val partials = vecs.mapPartitions { it =>
      var n = 0L
      var s: Array[Double] = null
      var g: Array[Double] = null
      var d = 0
      it.foreach { v0 =>
        val v = v0.toArray
        if (s == null) { d = v.length; s = new Array(d); g = new Array(d * d) }
        n += 1
        var i = 0
        while (i < d) {
          s(i) += v(i)
          var j = i
          while (j < d) { g(i * d + j) += v(i) * v(j); j += 1 }
          i += 1
        }
      }
      if (n == 0) Iterator.empty else Iterator.single((n, s, g))
    }.collect()
    require(partials.nonEmpty, "no vectors to aggregate")
    val d = partials.head._2.length
    val n = partials.map(_._1).sum
    val s = new Array[Double](d)
    val g = new Array[Double](d * d)
    partials.foreach { case (_, ps, pg) =>
      var i = 0
      while (i < d) { s(i) += ps(i); i += 1 }
      i = 0
      while (i < d * d) { g(i) += pg(i); i += 1 }
    }
    // C = E[vvT] - m mT, symmetrized from the upper triangle
    val cov = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val c = g(i * d + j) / n - (s(i) / n) * (s(j) / n)
      cov(i)(j) = c; cov(j)(i) = c
    }
    (n, cov)
  }

  def pcaVariance(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, dir)
      .select(col("embedding").cast("array<double>")).as[Seq[Double]]
    val (_, cov) = covariance(vecs)
    val eigs = jacobiEigenvalues(cov).sorted(Ordering[Double].reverse)
    val total = eigs.sum
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = eigs.take(topK).zipWithIndex.scanLeft((0, 0.0, 0.0, 0.0)) {
      case ((_, _, _, cum), (ev, i)) =>
        (i + 1, r6(ev), r6(ev / total), r6(cum + ev / total))
    }.drop(1).map { case (c, ev, sh, cum) => (c, ev, sh, cum) }
    spark.createDataFrame(rows)
      .toDF("component", "eigenvalue", "var_share", "cum_share")
  }

  /** Effective rank of the embedding cloud (RankMe / Roy-Vetterli):
    * exp of the Shannon entropy of the normalized covariance
    * eigen-spectrum — "how many dimensions are actually carrying
    * signal". A 64-dim embedding with effective rank 9 wastes 55
    * dims; representation-collapse monitoring gates on this number
    * next to [[isotropy]]'s mean-vector view (isotropy sees the
    * common direction, effective rank sees the whole spectrum).
    *
    * Same deterministic substrate as [[pcaVariance]] (one-pass moment
    * aggregation + driver-side Jacobi eigensolve over the d×d
    * covariance), so the scalar is a pure function of the data —
    * pinned by a generated-literal oracle. Output:
    * (dims, effective_rank, top1_share, entropy) rounded 6.
    */
  def effectiveRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, dir)
      .select(col("embedding").cast("array<double>")).as[Seq[Double]]
    val (_, cov) = covariance(vecs)
    val eigs = jacobiEigenvalues(cov).sorted(Ordering[Double].reverse)
    val total = eigs.sum
    val shares = eigs.map(_ / total).filter(_ > 0.0)
    val entropy = -shares.map(p => p * math.log(p)).sum
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((eigs.length, r6(math.exp(entropy)), r6(shares.max), r6(entropy)))
      .toDF("dims", "effective_rank", "top1_share", "entropy")
  }

  /** Embedding vectors quantized to integer micro-units (round(v·1e6)
    * per coordinate, HALF_UP like every declared quantization) — the
    * exact-arithmetic substrate for [[kmeansCentroids]]: per-cluster
    * per-dimension sums of longs are identical in any accumulation
    * order, so Spark's partial aggregation and DuckDB's serial scan
    * compute bit-equal centroids. Persisted once per dataset (all
    * k-means queries and the silhouette read it).
    */
  private def quantizedVectors(spark: SparkSession, dir: String,
      q: Long): org.apache.spark.sql.Dataset[(Long, Array[Long])] = {
    import spark.implicits._
    graft.IndexCache.persisted(spark, "kmeans-quant", q, dir) {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => round(x * q, 0).cast("long")).as("qv"))
        .as[(Long, Array[Long])]
    }
  }

  /** Nearest centroid by EXACT integer squared distance in quantized
    * space (|coord| ≤ 2e6 ⇒ per-dim square ≤ 4e12, d=64 ⇒ total ≤
    * 2.6e14: no Long overflow, no float at all); ties break to the
    * smallest centroid id, so assignment is a pure function of the
    * data — the property the cross-engine oracle rests on.
    */
  private[graft] def nearest(cs: Array[Array[Long]], v: Array[Long]): (Int, Long) = {
    var best = 0; var bd = Long.MaxValue
    var c = 0
    while (c < cs.length) {
      val cv = cs(c)
      var s = 0L; var i = 0
      while (i < v.length) { val dl = v(i) - cv(i); s += dl * dl; i += 1 }
      if (s < bd) { bd = s; best = c }
      c += 1
    }
    (best, bd)
  }

  /** Deterministic Lloyd k-means over the embedding cloud: init = the
    * `k` smallest vec_ids' vectors (seedless and replayable in SQL),
    * `iters` fixed iterations, all arithmetic exact (integer distances,
    * integer coordinate sums, one double division per centroid
    * coordinate rounded back to a long — sums stay < 2^53 so the
    * division is exact-input). Empty clusters keep their previous
    * centroid (the oracle's LEFT JOIN + coalesce mirrors this).
    *
    * Scale shape: centroids are driver-tiny (k·d longs) and broadcast;
    * each iteration is ONE map-only pass producing per-partition
    * (cid, count, dim-sums) partials reduced by key — k·|partitions|
    * rows move, the fact table never shuffles (the same shape
    * [[covariance]] uses, and the shape distributed k-means always
    * takes: the 100 TB cost is iters sequential scans, nothing else).
    */
  private[graft] def kmeansCentroids(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 3, q: Long = 1000000L): Array[Array[Long]] =
    graft.IndexCache.getOrBuild(spark, "kmeans-cents", k, iters, q, dir) {
      import spark.implicits._
      val data = quantizedVectors(spark, dir, q)
      var cents: Array[Array[Long]] = data.orderBy(col("vec_id")).limit(k)
        .collect().map(_._2)
      for (_ <- 1 to iters) {
        val bc = spark.sparkContext.broadcast(cents)
        val partials = data.rdd.mapPartitions { it =>
          val cs = bc.value
          val kk = cs.length
          var cnt: Array[Long] = null
          var sums: Array[Array[Long]] = null
          it.foreach { case (_, v) =>
            if (cnt == null) {
              cnt = new Array[Long](kk)
              sums = Array.ofDim[Long](kk, v.length)
            }
            val (c, _) = nearest(cs, v)
            cnt(c) += 1
            val s = sums(c); var i = 0
            while (i < v.length) { s(i) += v(i); i += 1 }
          }
          if (cnt == null) Iterator.empty
          else (0 until kk).iterator.filter(cnt(_) > 0)
            .map(c => (c, (cnt(c), sums(c))))
        }.reduceByKey { (a: (Long, Array[Long]), b: (Long, Array[Long])) =>
          val m = new Array[Long](a._2.length)
          var i = 0
          while (i < a._2.length) { m(i) = a._2(i) + b._2(i); i += 1 }
          (a._1 + b._1, m)
        }.collect().toMap
        cents = cents.zipWithIndex.map { case (old, c) =>
          partials.get(c) match {
            // HALF_UP (away from zero) like DuckDB's round(), not
            // math.round's half-toward-+inf — coordinates go negative
            case Some((n, s)) => s.map(x => BigDecimal(x.toDouble / n)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
            case None => old
          }
        }
      }
      cents
    }

  /** Declared k-means assignment relation: (vec_id, cid, d2) with d2
    * the exact integer squared distance to the final centroid in
    * quantized space — every column a BIGINT/INT, so the DuckDB oracle
    * (which unrolls the same `iters` Lloyd steps as CTE stages)
    * hash-matches bit-for-bit. One broadcast + one map-only pass.
    */
  /** Fisher class-separability of the labeled embeddings: the ratio
    * of between-class to within-class scatter (LDA's criterion,
    * summed over dimensions) — ONE number that says whether the label
    * column is actually visible in the geometry (high = labels
    * cluster; near 0 = labels are geometric noise and a classifier
    * trained on these vectors starts from nothing).
    *
    * Exactness: coordinates quantize to integer micro-units before
    * any sum; per-label and global per-dimension MEANS re-quantize to
    * integer micro (one fixed division + round each — the two-level
    * discipline of [[isotropy]]); both scatters are then pure integer
    * sums (DECIMAL(38,0)) and ONE final division produces the ratio.
    *
    * Scale shape: one partial-aggregatable (label, dim) rollup over
    * the exploded coordinates; everything after is |labels|·|dims|
    * rows. Output: (n_labels, n_dims, between_ss, within_ss,
    * fisher_ratio rounded 6) — 1 row.
    */
  def fisherSeparability(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        round(col("v").cast("double") * 1e6, 0).cast("long").as("x6"))
    val byLd = e.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("nl"), sum(col("x6")).as("s"),
        sum((col("x6") * col("x6")).cast(dec)).as("x2"))
      .withColumn("m6",
        round(col("s").cast("double") / col("nl"), 0).cast("long"))
    val byD = byLd.groupBy(col("dim"))
      .agg(sum(col("s")).as("sd"), sum(col("nl")).as("n"))
      .withColumn("g6",
        round(col("sd").cast("double") / col("n"), 0).cast("long"))
      .select(col("dim"), col("g6"))
    byLd.join(byD, "dim")
      .agg(
        countDistinct(col("label")).as("n_labels"),
        countDistinct(col("dim")).as("n_dims"),
        sum((col("nl") * (col("m6") - col("g6")) *
          (col("m6") - col("g6"))).cast(dec)).as("b"),
        sum(col("x2") - (lit(2L) * col("m6") * col("s")).cast(dec) +
          (col("nl") * col("m6") * col("m6")).cast(dec)).as("w"))
      .select(col("n_labels"), col("n_dims"),
        col("b").cast("long").as("between_ss"),
        col("w").cast("long").as("within_ss"),
        round(col("b").cast("double") / col("w").cast("double"), 6)
          .as("fisher_ratio"))
  }

  /** Alignment / uniformity of the embedding space (Wang & Isola 2020,
    * "Understanding Contrastive Representation Learning through
    * Alignment and Uniformity on the Hypersphere") — the two numbers
    * that summarize whether an embedding model is healthy:
    *
    *   - '''alignment''' = E‖x−y‖² over POSITIVE pairs (here: each
    *     vector with the next vector of the SAME label in vec_id
    *     order — one lead window per label partition, a linear pair
    *     set with real corpus semantics). Lower = positives embed
    *     close.
    *   - '''uniformity''' = ln E exp(−2‖x−y‖²) over vector pairs
    *     (here: a fixed 64-probe panel — the first 64 vec_ids —
    *     against the whole corpus, a deterministic O(64·n) sample of
    *     the quadratic pair space). Lower (more negative) = mass
    *     spreads over the sphere instead of collapsing.
    *
    * Exactness: unit vectors from the shared [[Dedup
    * .normalizedEmbeddings]] cache; ‖x−y‖² = 2−2·dot computed with
    * the fused left-to-right dot and rounded 6 BEFORE use; each
    * alignment term micro-quantizes (·1e6) and each uniformity term
    * nano-quantizes exp(−2d²)·1e9 to a long, so both cross-row sums
    * are exact integers in any order; one fixed-order division (+ln)
    * each. Scale: one window over |label| partitions + one broadcast
    * probe panel against the corpus — both linear. Output: 1 row
    * (n_pos, alignment, n_pairs, uniformity).
    */
  def alignmentUniformity(spark: SparkSession, dir: String,
      probes: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nrm = Dedup.normalizedEmbeddings(spark, dir)
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
        Seq("vec_id"))
    def d2Of(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round(lit(2.0) - lit(2.0) *
        graft.functions.ArrayMath.dotProduct(a, b), 6)
    val w = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val pos = nrm
      .withColumn("nxt", lead(col("nv"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(round(d2Of(col("nv"), col("nxt")) * 1e6, 0)
        .cast("long").as("q6"))
      .agg(count(lit(1)).as("n_pos"), sum(col("q6")).as("s6"))
    // the `probes` SMALLEST vec_ids (a TakeOrdered, k tiny), not an
    // absolute `vec_id < probes` threshold: on a sparse or offset id
    // space the threshold panel would be empty and the final division
    // would yield a silent NULL uniformity instead of a real sample
    val panel = broadcast(nrm
      .select(col("vec_id").as("pid"), col("nv").as("pv"))
      .orderBy(col("pid")).limit(probes))
    val uni = nrm.crossJoin(panel)
      .filter(col("vec_id") =!= col("pid"))
      .select(round(exp(lit(-2.0) * d2Of(col("nv"), col("pv"))) * 1e9, 0)
        .cast("long").as("e9"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("e9")).as("se9"))
    pos.crossJoin(uni)
      .select(col("n_pos"),
        round(col("s6").cast("double") / col("n_pos") / 1e6, 6)
          .as("alignment"),
        col("n_pairs"),
        round(log(col("se9").cast("double") / col("n_pairs") / 1e9), 6)
          .as("uniformity"))
  }

  /** Nearest-centroid (Rocchio) CLASSIFIER over the labeled embedding
    * cloud — the supervised sibling of the k-means chain and the
    * simplest real form of the model-based filtering step every
    * training-data pipeline runs (a learned scorer assigning each
    * document a class): train one centroid per label on the 95% prefix
    * split (the engine-wide [[graft.knn.ExactKnn.split]] contract),
    * then classify each HELD-OUT vector to its nearest label centroid.
    *
    * Exactness: the [[kmeansCentroids]] discipline end-to-end —
    * micro-quantized coordinates, order-free integer dim-sums, ONE
    * HALF_UP-rounded double division per centroid coordinate, then
    * exact integer squared distances with ties to the smallest label.
    * Scale shape: per-label (count, dim-sums) partials reduce by key
    * (|labels|·|partitions| rows move, the corpus never shuffles),
    * centroids are driver-tiny (|labels|·d longs) and broadcast, and
    * prediction is one map-only pass — at 100 TB this is two scans
    * total, the canonical distributed-classifier shape.
    */
  private[graft] def labelCentroids(spark: SparkSession, dir: String,
      q: Long = 1000000L): (Array[Int], Array[Array[Long]]) =
    graft.IndexCache.getOrBuild(spark, "rocchio-cents", q, dir) {
      import spark.implicits._
      val (_, _, splitAt, _) = graft.knn.ExactKnn.split(spark, dir)
      val train = quantizedVectors(spark, dir, q)
        .toDF("vec_id", "qv")
        .join(Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label")), Seq("vec_id"))
        .filter(col("vec_id") < splitAt)
        .select(col("label"), col("qv"))
        .as[(Int, Array[Long])]
      val partials = train.rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map[Int, (Long, Array[Long])]()
        it.foreach { case (l, v) =>
          val (n, s) = acc.getOrElseUpdate(l, (0L, new Array[Long](v.length)))
          var i = 0
          while (i < v.length) { s(i) += v(i); i += 1 }
          acc(l) = (n + 1L, s)
        }
        acc.iterator
      }.reduceByKey { (a, b) =>
        val m = new Array[Long](a._2.length)
        var i = 0
        while (i < m.length) { m(i) = a._2(i) + b._2(i); i += 1 }
        (a._1 + b._1, m)
      }.collect().sortBy(_._1)
      val labels = partials.map(_._1)
      val cents = partials.map { case (_, (n, s)) =>
        s.map(x => BigDecimal(x.toDouble / n)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
      (labels, cents)
    }

  /** Declared held-out prediction relation: (vec_id, label, pred) for
    * every vector past the split point — the per-document output of
    * the classifier gate. All-integer columns; the DuckDB oracle
    * replays the same centroids and argmin relationally.
    */
  def centroidPredictions(spark: SparkSession, dir: String,
      q: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val (_, _, splitAt, _) = graft.knn.ExactKnn.split(spark, dir)
    val (labels, cents) = labelCentroids(spark, dir, q)
    val bcL = spark.sparkContext.broadcast(labels)
    val bcC = spark.sparkContext.broadcast(cents)
    quantizedVectors(spark, dir, q)
      .toDF("vec_id", "qv")
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label")), Seq("vec_id"))
      .filter(col("vec_id") >= splitAt)
      .as[(Long, Array[Long], Int)]
      .map { case (id, v, l) =>
        val (c, _) = nearest(bcC.value, v)
        (id, l, bcL.value(c))
      }
      .toDF("vec_id", "label", "pred")
  }

  /** Declared confusion matrix over the held-out predictions —
    * (label, pred, n), the report-card rollup the per-document
    * relation feeds. |labels|² output rows at any scale.
    */
  def centroidConfusion(spark: SparkSession, dir: String,
      q: Long = 1000000L): DataFrame =
    centroidPredictions(spark, dir, q)
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))

  def kmeansAssignments(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, q: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val cents = kmeansCentroids(spark, dir, k, iters, q)
    val bc = spark.sparkContext.broadcast(cents)
    quantizedVectors(spark, dir, q).map { case (id, v) =>
      val (c, d2) = nearest(bc.value, v)
      (id, c, d2)
    }.toDF("vec_id", "cid", "d2")
  }

  /** Per-cluster simplified silhouette over the final k-means
    * centroids: a = distance to own centroid, b = distance to the
    * nearest OTHER centroid, s = (b-a)/max(a,b) — the O(n·k) centroid
    * form (the O(n²) pairwise silhouette is unusable at scale; the
    * centroid form is the standard large-n diagnostic). Per-vector s is
    * quantized to integer micro-units before the cluster mean, so the
    * aggregation is an exact integer sum in any order. Output:
    * (cid, n, mean_sil rounded 6).
    *
    * Same scale shape as assignment: centroids broadcast, one map-only
    * pass, a k-row aggregate.
    */
  /** Cluster-vs-label PURITY — the clustering-evaluation table that
    * says whether the learned structure recovers the labels: per
    * k-means cluster, its size, dominant label (ties: min label), the
    * dominant count, and purity in integer permille. The unsupervised
    * twin of [[fisherSeparability]] (that asks "are labels visible in
    * the geometry"; this asks "does a geometry-only clustering find
    * them"). Pure integer counting over the memoized assignment
    * relation; windows run over the k×|labels| contingency, never the
    * corpus. Output: (cid, n_vecs, top_label, n_top,
    * purity_permille).
    */
  def clusterLabelPurity(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, q: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ct = kmeansAssignments(spark, dir, k, iters, q)
      .select(col("vec_id"), col("cid"))
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
        Seq("vec_id"))
      .groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("n"))
    ct
      .withColumn("rn", row_number().over(Window.partitionBy(col("cid"))
        .orderBy(col("n").desc, col("label").asc)))
      .withColumn("n_vecs", sum(col("n")).over(Window.partitionBy(col("cid"))))
      .filter(col("rn") === 1)
      .select(col("cid"), col("n_vecs"), col("label").as("top_label"),
        col("n").as("n_top"),
        expr("n_top * 1000 div n_vecs").as("purity_permille"))
  }

  def kmeansSilhouette(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, q: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val cents = kmeansCentroids(spark, dir, k, iters, q)
    val bc = spark.sparkContext.broadcast(cents)
    val perVec = quantizedVectors(spark, dir, q).map { case (_, v) =>
      val cs = bc.value
      val (own, d2own) = nearest(cs, v)
      var bOther = Long.MaxValue
      var c = 0
      while (c < cs.length) {
        if (c != own) {
          val cv = cs(c)
          var s = 0L; var i = 0
          while (i < v.length) { val dl = v(i) - cv(i); s += dl * dl; i += 1 }
          if (s < bOther) bOther = s
        }
        c += 1
      }
      val a = math.sqrt(d2own.toDouble)
      val b = math.sqrt(bOther.toDouble)
      val s = if (math.max(a, b) == 0.0) 0.0 else (b - a) / math.max(a, b)
      val sMicro = BigDecimal(s * 1000000L)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (own, sMicro)
    }.toDF("cid", "sm")
    perVec.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("sm")).as("sms"))
      .select(col("cid"), col("n"),
        round(col("sms").cast("double") / col("n") / 1000000d, 6)
          .as("mean_sil"))
  }

  /** Eigenvalues of a symmetric matrix by cyclic Jacobi rotations —
    * dependency-free driver-side solver for the d×d covariance
    * (d = 64: microseconds). Standard sweep until off-diagonal mass
    * vanishes; the input array is copied, not mutated.
    */
  private[graft] def jacobiEigenvalues(m0: Array[Array[Double]],
      maxSweeps: Int = 64, tol: Double = 1e-12): Seq[Double] =
    jacobiEigen(m0, maxSweeps, tol)._1

  /** Full symmetric eigendecomposition by cyclic Jacobi: returns
    * (eigenvalues, V) where COLUMN i of V is the unit eigenvector of
    * eigenvalue i (V accumulates the same plane rotations applied to
    * the matrix, so V is orthonormal by construction). The input is
    * copied, not mutated.
    */
  private[graft] def jacobiEigen(m0: Array[Array[Double]],
      maxSweeps: Int = 64, tol: Double = 1e-12)
      : (Seq[Double], Array[Array[Double]]) = {
    val d = m0.length
    val a = Array.tabulate(d, d)((i, j) => m0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > tol) {
      off = 0.0
      for (p <- 0 until d - 1; q <- p + 1 until d) {
        off += 2 * a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > tol / (d * d)) {
          val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
          // sign convention must treat theta == 0 as +1 (equal diagonal
          // entries need the full 45-degree rotation, not a no-op)
          val sgn = if (theta >= 0) 1.0 else -1.0
          val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1))
          val c = 1 / math.sqrt(t * t + 1)
          val sn = t * c
          for (k <- 0 until d) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - sn * akq
            a(k)(q) = sn * akp + c * akq
          }
          for (k <- 0 until d) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - sn * aqk
            a(q)(k) = sn * apk + c * aqk
          }
          for (k <- 0 until d) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - sn * vkq
            v(k)(q) = sn * vkp + c * vkq
          }
        }
      }
      sweep += 1
    }
    ((0 until d).map(i => a(i)(i)), v)
  }

  /** TwoNN intrinsic-dimension estimate (Facco et al., Scientific
    * Reports 2017): for each vector, μ = r2/r1 — the ratio of its
    * second- to first-nearest-neighbor distance — and the MLE
    * d̂ = n / Σ ln μ. Complements [[effective rank]] and isotropy: those
    * measure the LINEAR span, TwoNN the (possibly curved) manifold the
    * vectors actually occupy — the gap between them is the trained-in
    * nonlinearity, and a collapsing d̂ over training is the
    * representation-collapse alarm.
    *
    * Determinism: distances are the corpus-standard round-6 cosine
    * ([[graft.knn.ExactKnn.dist]]), each ln μ quantizes to integer
    * micro-nats BEFORE the sum (order-free), and one final division
    * rounds to 4 — the DuckDB oracle replays every step. Points whose
    * r1 rounds to 0 (duplicate-grade neighbors) are excluded from the
    * MLE, and reported via n_used.
    *
    * Scale shape: the estimator needs only a SAMPLE to converge
    * (O(1e3) probes saturate it), so the probe side is a deterministic
    * stride sample capped near `maxProbes` — at the oracle scale the
    * stride is 1 and the sample IS the corpus — broadcast against one
    * corpus scan (the broadcast-matrix kernel every exact-knn
    * yardstick rides), bounded-heap top-2 per probe
    * ([[graft.plans.TopKPerGroup]]), never a global sort: probe count
    * stays ~constant however large the corpus grows. Output: one row
    * (n_points, n_used, sum_log_mu_micro, twonn_dim rounded 4).
    */
  def twoNNIntrinsicDim(spark: SparkSession, dir: String,
      maxProbes: Long = 512L): DataFrame = {
    import graft.functions.VectorFunctions.toDoubleArray
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("emb"))
    val stride = math.max(1L, emb.count() / maxProbes)
    val q = broadcast(emb
      .filter(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("qid"), col("emb").as("qvec")))
    // widen the corpus side of the NLJ: the probe-panel distance scan
    // is pure per-row compute and ran as ONE task off the single-split
    // fixture scan (measured 2-4 s single-threaded at sf0.1)
    val scored = graft.plans.GraftOps.widen(emb)
      .crossJoin(q).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.knn.ExactKnn.dist(col("emb"), col("qvec")).as("dist"))
    val top2 = graft.plans.GraftOps.topKPerGroup(scored, Seq("qid"),
      Seq("dist" -> true, "vec_id" -> true), 2)
    val rs = top2.groupBy(col("qid"))
      .agg(min(when(col("rk") === 1, col("dist"))).as("r1"),
        min(when(col("rk") === 2, col("dist"))).as("r2"))
    val logs = rs.filter(col("r1") > 0)
      .select(round(log(col("r2") / col("r1")) * lit(1000000.0), 0)
        .cast("long").as("lg"))
      .agg(count(lit(1)).as("n_used"), sum(col("lg")).as("sum_log_mu_micro"))
    emb.agg(count(lit(1)).as("n_points"))
      .crossJoin(broadcast(logs))
      .select(col("n_points"), col("n_used"), col("sum_log_mu_micro"),
        round(col("n_used") * lit(1000000.0) / col("sum_log_mu_micro"), 4)
          .as("twonn_dim"))
  }
}
