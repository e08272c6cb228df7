package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.knn.{BinaryQuantKnn, ExactKnn, HnswKnn, IvfKnn, IvfPqKnn, MatryoshkaKnn, OpqKnn, PcaKnn, PqKnn, RandomProjection, SqKnn, VamanaKnn}
import graft.operators.{Dedup, EmbeddingStats, Evaluation}
import OracleSql.cosDistSql

/** Vector search and embedding rows: exact and ANN kNN (batch, lifecycle,
  * streamed, SQL-facing), their recall/ranking evaluations, and the
  * embedding-space statistics (`knn_`, `sql_knn_`, `eval_`, `emb_`).
  */
object VectorQueries {

  private val sqlKnnSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Register a [[graft.sources.KnnDataSource]] temp view via pure SQL
    * and query it — the declared bodies are `spark.sql` text only, so
    * the whole kNN path is reachable without any Scala API.
    */
  private def sqlKnn(s: SparkSession, d: String, options: String,
      select: String => String,
      provider: String = "graft.sources.KnnDataSource"): DataFrame = {
    val v = s"graft_knn_sql_${sqlKnnSeq.incrementAndGet()}"
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW $v
              USING $provider
              OPTIONS (dir '$d', $options)""")
    s.sql(select(v))
  }

  /** Per-dataset memo of an ANN family's BATCH SEARCH RESULT: each
    * eval_* row scores the exact same (qid, vec_id) table its
    * knn_*_batch twin just produced — without this memo every eval
    * re-ran the whole coarse scan + re-rank (the index builds were
    * already memoized, the searches were not; ~15-20 s of duplicate
    * work per bench at sf0.1). The result is (queries x k) rows —
    * tiny to persist, same pattern as the exact ground truth
    * (ExactKnn.topKBatch).
    */
  private def memoBatch(name: String,
      f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => IndexCache.persisted(s, "batch-result", name, d)(f(s, d))

  private val hnswBatch  = memoBatch("hnsw", HnswKnn.topKBatch(_, _))
  private val bq256Batch = memoBatch("bq256", BinaryQuantKnn.topKBatchWide(_, _))
  private val ivfBatch   = memoBatch("ivf", IvfKnn.topKBatch(_, _))
  private val pqBatch    = memoBatch("pq", PqKnn.topKBatch(_, _))
  private val opqBatch   = memoBatch("opq", OpqKnn.topKBatch(_, _))
  private val vamanaBatch = memoBatch("vamana", VamanaKnn.topKBatch(_, _))
  private val ivfpqBatch = memoBatch("ivfpq", IvfPqKnn.topKBatch(_, _))
  private val rpBatch    = memoBatch("rp", RandomProjection.topKBatch(_, _))
  private val pcaBatch   = memoBatch("pca", PcaKnn.topKBatch(_, _))
  private val bqBatch    = memoBatch("bq", BinaryQuantKnn.topKBatch(_, _))
  private val sqBatch    = memoBatch("sq", SqKnn.topKBatch(_, _))
  private val mrlBatch   = memoBatch("mrl", MatryoshkaKnn.topKBatch(_, _))

  /** One unrolled Lloyd step for the k-means oracles: assign to the
    * nearest centroid by exact integer squared distance (ties to the
    * smallest cid), then re-derive each centroid as the HALF_UP-rounded
    * per-dimension mean, empty clusters keeping their previous centroid
    * — the literal SQL mirror of EmbeddingStats.kmeansCentroids.
    */
  private def kmeansStep(i: Int): String = {
    val p = i - 1
    s"""
      d$i AS (SELECT e.vec_id, c.cid,
                 CAST(list_sum(list_transform(list_zip(e.q, c.q),
                   z -> (z[1]-z[2])*(z[1]-z[2]))) AS BIGINT) AS d2
              FROM e, c$p c),
      a$i AS (SELECT vec_id, cid, d2 FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, cid) AS rn FROM d$i) WHERE rn = 1),
      u$i AS (SELECT cid, i,
                 CAST(round(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
              FROM a$i JOIN e USING (vec_id), generate_series(1, 64) AS gs(i)
              GROUP BY cid, i),
      c$i AS (SELECT p.cid, coalesce(n.q, p.q) AS q
              FROM c$p p LEFT JOIN (SELECT cid, list(m ORDER BY i) AS q
                                    FROM u$i GROUP BY cid) n USING (cid))"""
  }

  /** Shared CTE prefix of both k-means oracles: quantized vectors,
    * deterministic init (k smallest vec_ids), three unrolled Lloyd
    * steps, and the final-assignment distance relation `df`.
    */
  private def kmeansCtes: String = s"""
      WITH e AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        FROM embeddings),
      c0 AS (
        SELECT CAST(rn - 1 AS INT) AS cid, q FROM (
          SELECT q, row_number() OVER (ORDER BY vec_id) AS rn FROM e)
        WHERE rn <= 8),${kmeansStep(1)},${kmeansStep(2)},${kmeansStep(3)},
      df AS (SELECT e.vec_id, c.cid,
                CAST(list_sum(list_transform(list_zip(e.q, c.q),
                  z -> (z[1]-z[2])*(z[1]-z[2]))) AS BIGINT) AS d2
             FROM e, c3 c)"""

  /** Rocchio prediction relation replayed in SQL: the same
    * quantization, HALF_UP per-label centroids over the 95% prefix,
    * and exact integer argmin (ties to the smallest label) as
    * `EmbeddingStats.centroidPredictions`.
    */
  private def centroidClassifierOracle: String = """
      WITH sp AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s
                  FROM embeddings),
      q AS (SELECT vec_id, label,
              generate_subscripts(embedding, 1) AS dim,
              CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                AS BIGINT) AS x6
            FROM embeddings),
      tr AS (SELECT label AS cand, dim,
               CAST(round(CAST(sum(x6) AS DOUBLE) / count(*)) AS BIGINT)
                 AS m6
             FROM q, sp WHERE vec_id < sp.s GROUP BY 1, 2),
      te AS (SELECT vec_id, label, dim, x6 FROM q, sp WHERE vec_id >= sp.s),
      d AS (SELECT te.vec_id, te.label, tr.cand,
              sum((te.x6 - tr.m6) * (te.x6 - tr.m6)) AS d2
            FROM te JOIN tr USING (dim) GROUP BY 1, 2, 3),
      r AS (SELECT vec_id, label, cand,
              row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand)
                AS rn
            FROM d)
      SELECT vec_id, label, CAST(cand AS INT) AS pred FROM r WHERE rn = 1"""

  /** Shared by `emb_kmeans` and `emb_kmeans_streamed` (same unrolled
    * Lloyd replay; the streamed row is the same per-row assignment).
    */
  private def kmeansAssignOracle: String = s"""$kmeansCtes
      SELECT vec_id, CAST(cid AS INT) AS cid, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2, cid) AS rn FROM df) WHERE rn = 1"""

  /** The unrolled-Lloyd assignment joined to labels: per-cluster
    * dominant-label contingency with integer-permille purity.
    */
  private def kmeansPurityOracle: String = s"""$kmeansCtes,
      assign AS (SELECT vec_id, CAST(cid AS INT) AS cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2, cid) AS rn FROM df) WHERE rn = 1),
      ct AS (SELECT a.cid, emb2.label, CAST(count(*) AS BIGINT) AS n
             FROM assign a JOIN embeddings emb2 ON a.vec_id = emb2.vec_id
             GROUP BY 1, 2),
      tops AS (SELECT *,
                 row_number() OVER (PARTITION BY cid
                   ORDER BY n DESC, label ASC) AS rn,
                 sum(n) OVER (PARTITION BY cid) AS n_vecs
               FROM ct)
      SELECT cid, CAST(n_vecs AS BIGINT) AS n_vecs, label AS top_label,
             n AS n_top,
             CAST(n * 1000 // n_vecs AS BIGINT) AS purity_permille
      FROM tops WHERE rn = 1"""

  /** Shared by `knn_exact_after_delete` and `knn_ivf_after_delete`
    * (keyed delete then search, exact on both paths): the full-prefix
    * knn with the deleted slab excluded by predicate.
    */
  private def afterDeleteOracle: String = s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.80 * count(*)) AS BIGINT) AS s80,
                   CAST(round(0.90 * count(*)) AS BIGINT) AS s90,
                   CAST(round(0.95 * count(*)) AS BIGINT) AS s95 FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s95
              AND NOT (b.vec_id >= p.s80 AND b.vec_id < p.s90)
              AND q.vec_id >= p.s95 AND q.vec_id < p.s95 + 20)
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INT) AS rk
      FROM d
      QUALIFY rk <= 10"""

  /** Shared by `knn_exact_after_insert` (bag-union append then brute
    * force) and `knn_ivf_after_insert` (IVF insert_many then EXHAUSTIVE
    * probe — exact by construction): full-prefix knn of the first 20
    * held-out queries.
    */
  private def afterInsertOracle: String = s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s95 FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s95
              AND q.vec_id >= p.s95 AND q.vec_id < p.s95 + 20)
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INT) AS rk
      FROM d
      QUALIFY rk <= 10"""

  /** DBSCAN replayed exactly over the deterministic planted PANEL
    * universe (stride = ceil(n/2000) before planting — 1, the full
    * historical fixture, at this tier; ≤ 4000 vectors at derived
    * tiers so this quadratic reconstruction replays there instead of
    * pinning), parametric in the operating point: the
    * same planted pair relation as neardup_embedding_lsh, degree-based
    * core test, recursive-CTE components of the core-core graph
    * (min-label, exact for any diameter), min-label border attachment.
    * Shared by the exact leg (0.45 / minPts 3) and the LSH-legged
    * scale path (0.98 / minPts 2 — the regime where banding has
    * near-certain recall, so the exact reconstruction IS its oracle).
    */
  private def dbscanOracleSql(threshold: String, minPts: Int): String = s"""
      WITH RECURSIVE st AS (SELECT (count(*) + 1999) // 2000 AS k
                            FROM embeddings),
      e0 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings, st WHERE vec_id % st.k = 0),
      u AS (SELECT vec_id, v FROM e0
            UNION ALL
            SELECT vec_id + 100000, list_transform(v, x -> x + 0.01) FROM e0),
      n AS MATERIALIZED (SELECT vec_id,
                   list_transform(v, x -> x /
                     nullif(sqrt(list_sum(list_transform(v, y -> y*y))), 0)) AS nv
            FROM u),
      p AS MATERIALIZED (SELECT va, vb FROM (
              SELECT a.vec_id AS va, b.vec_id AS vb,
                     round(greatest(list_sum(list_transform(list_zip(a.nv, b.nv),
                       z -> z[1]*z[2])), 0), 6) AS sim
              FROM n a JOIN n b ON a.vec_id < b.vec_id)
            WHERE sim >= $threshold),
      sym AS (SELECT va AS vid, vb AS nbr FROM p UNION ALL SELECT vb, va FROM p),
      deg AS (SELECT n.vec_id, count(s.nbr) AS d FROM n
              LEFT JOIN sym s ON n.vec_id = s.vid GROUP BY 1),
      cores AS (SELECT vec_id FROM deg WHERE d + 1 >= $minPts),
      cc AS (SELECT va, vb FROM p
             WHERE va IN (SELECT vec_id FROM cores)
               AND vb IN (SELECT vec_id FROM cores)),
      ccsym AS (SELECT va AS a, vb AS b FROM cc UNION ALL SELECT vb, va FROM cc),
      reach(node, lbl) AS (
        SELECT vec_id, vec_id FROM cores
        UNION
        SELECT e.b, reach.lbl FROM ccsym e JOIN reach ON reach.node = e.a),
      corerep AS (SELECT node AS vec_id, min(lbl) AS rep FROM reach GROUP BY 1),
      border AS (SELECT s.vid AS vec_id, min(c.rep) AS rep
                 FROM sym s JOIN corerep c ON s.nbr = c.vec_id
                 WHERE s.vid NOT IN (SELECT vec_id FROM cores)
                 GROUP BY 1)
      SELECT n.vec_id,
             CASE WHEN cr.vec_id IS NOT NULL THEN 'core'
                  WHEN b.vec_id IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS role,
             coalesce(cr.rep, b.rep, -1) AS rep
      FROM n LEFT JOIN corerep cr ON n.vec_id = cr.vec_id
             LEFT JOIN border b ON n.vec_id = b.vec_id"""

  /** Shared by `knn_exact_single` and `sql_knn_exact`. */
  private val exactSingleOracle: String = s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s, count(*) AS c FROM e)
      SELECT b.vec_id, $cosDistSql AS dist
      FROM e b, e q, p
      WHERE b.vec_id < p.s AND q.vec_id = p.s + (29 % (p.c - p.s))
      ORDER BY dist, b.vec_id LIMIT 10"""

  /** Shared by `knn_range_search` and `knn_range_streamed`:
    * The 20-query panel is carved out FIRST (materialized CTEs): as a
    * flat cross-join + filter DuckDB evaluated the n x n pair space
    * before pruning the query side — 400M list-dots at the sf1 tier
    */
  private val rangeSearchOracle: String = s"""
      WITH e AS MATERIALIZED (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      q AS MATERIALIZED (SELECT * FROM e
            WHERE vec_id >= (SELECT s FROM p)
              AND vec_id < (SELECT s FROM p) + 20)
      SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
      FROM e b, q
      WHERE b.vec_id < (SELECT s FROM p)
        AND $cosDistSql <= 0.7"""

  private val row = new Declared.Family(readsMemos = true)

  val rows: Seq[Declared] = Seq(
    row("knn_exact_single", (s, d) => ExactKnn.topKSingle(s, d), exactSingleOracle),

    row("knn_exact_batch", (s, d) => ExactKnn.topKBatch(s, d), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s AND q.vec_id >= p.s)
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INT) AS rk
      FROM d
      QUALIFY rk <= 10"""),

    // reciprocal-kNN pairs over the base split (hub-free neighborhood
    // evidence; mutual filter = one self-join of the n*k top-k rows)
    // reciprocal filter replay: self top-5 within the deterministic
    // ~2000-vector panel universe (stride = greatest(1, s // 2000) — 1,
    // i.e. the full base, at this tier; bounds the quadratic leg so
    // the SAME SQL replays at derived tiers), then the
    // (a,b)x(b,a) join with a < b
    row("knn_mutual_pairs", (s, d) => ExactKnn.mutualKnnPairs(s, d), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s,
                   greatest(1, CAST(round(0.95 * count(*)) AS BIGINT) // 2000)
                     AS st
            FROM e),
      u AS MATERIALIZED (SELECT vec_id, emb FROM e, p
            WHERE vec_id < p.s AND vec_id % p.st = 0),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM u b, u q
            WHERE b.vec_id <> q.vec_id),
      t AS (SELECT qid, vec_id, dist,
              row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
                AS rk
            FROM d QUALIFY rk <= 5)
      SELECT a.qid AS vec_a, a.vec_id AS vec_b, a.dist
      FROM t a JOIN t r ON a.qid = r.vec_id AND a.vec_id = r.qid
      WHERE a.qid < a.vec_id"""),

    // embedding-space clustering: star-contraction components of the
    // mutual-kNN graph (no k-clusters hyperparameter, hub-free)
    // component replay: the same panel-universe mutual-pair relation
    // (identical stride arithmetic), closed by a RECURSIVE reach;
    // cluster = min reachable label (the star-contraction fixpoint's
    // invariant)
    row("emb_mutual_knn_clusters", (s, d) => EmbeddingStats.mutualKnnClusters(s, d),
      s"""
      WITH RECURSIVE e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s,
                   greatest(1, CAST(round(0.95 * count(*)) AS BIGINT) // 2000)
                     AS st
            FROM e),
      u AS MATERIALIZED (SELECT vec_id, emb FROM e, p
            WHERE vec_id < p.s AND vec_id % p.st = 0),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM u b, u q
            WHERE b.vec_id <> q.vec_id),
      t AS (SELECT qid, vec_id,
              row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
                AS rk
            FROM d QUALIFY rk <= 5),
      mp AS (SELECT a.qid AS u, a.vec_id AS v
             FROM t a JOIN t r ON a.qid = r.vec_id AND a.vec_id = r.qid
             WHERE a.qid < a.vec_id),
      sym AS (SELECT u, v FROM mp UNION ALL SELECT v, u FROM mp),
      reach(node, lbl) AS (
        SELECT DISTINCT u, u FROM sym
        UNION
        SELECT s.v, reach.lbl FROM sym s JOIN reach ON reach.node = s.u)
      SELECT node AS vec_id, min(lbl) AS cluster
      FROM reach GROUP BY node"""),

    // k-occurrence histogram + skewness off the same memoized self
    // top-k (the hub-pathology diagnostic of high-dim spaces)
    // hubness replay: the anchored self top-5 relation — queries are
    // the deterministic ~512-anchor stride panel (stride 1, i.e. every
    // base vector, at this tier; bounds the oracle at O(panel·n) so it
    // replays at derived tiers), candidates the FULL
    // base — zero-filled k-occurrence over the full base, exact
    // integer moments, m2*sqrt(m2) denominator
    row("emb_hubness", (s, d) => EmbeddingStats.hubness(s, d), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s,
                   greatest(1, CAST(round(0.95 * count(*)) AS BIGINT) // 512)
                     AS st
            FROM e),
      bb AS MATERIALIZED (SELECT vec_id, emb FROM e, p WHERE vec_id < p.s),
      qq AS MATERIALIZED (SELECT vec_id, emb FROM e, p
            WHERE vec_id < p.s AND vec_id % p.st = 0),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM bb b, qq q
            WHERE b.vec_id <> q.vec_id),
      t AS (SELECT qid, vec_id,
              row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
                AS rk
            FROM d QUALIFY rk <= 5),
      occ AS (SELECT b.vec_id, count(t.qid) AS n_occ
              FROM (SELECT vec_id FROM e, p WHERE vec_id < p.s) b
              LEFT JOIN t ON t.vec_id = b.vec_id GROUP BY 1),
      m AS (SELECT count(*) AS n, sum(n_occ) AS s1,
              sum(n_occ * n_occ) AS s2,
              sum(n_occ * n_occ * n_occ) AS s3
            FROM occ),
      sk AS (SELECT round(
               (CAST(s3 AS DOUBLE) / n
                  - 3.0 * (CAST(s1 AS DOUBLE) / n)
                        * (CAST(s2 AS DOUBLE) / n)
                  + 2.0 * (CAST(s1 AS DOUBLE) / n)
                        * (CAST(s1 AS DOUBLE) / n)
                        * (CAST(s1 AS DOUBLE) / n))
               / ((CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))
                  * sqrt(CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))), 6) AS skewness
             FROM m)
      SELECT occ.n_occ AS n_occ, CAST(count(*) AS BIGINT) AS n_vecs,
             any_value(sk.skewness) AS skewness
      FROM occ CROSS JOIN sk GROUP BY 1"""),

    row("knn_euclidean_single", (s, d) => ExactKnn.topKSingleEuclidean(s, d), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s, count(*) AS c FROM e)
      SELECT b.vec_id,
             round(sqrt(list_sum(list_transform(list_zip(b.emb, q.emb),
                   z -> (z[1]-z[2])*(z[1]-z[2])))), 6) AS dist
      FROM e b, e q, p
      WHERE b.vec_id < p.s AND q.vec_id = p.s + (29 % (p.c - p.s))
      ORDER BY dist, b.vec_id LIMIT 10"""),

    row("knn_range_search", (s, d) => ExactKnn.rangeSearch(s, d), rangeSearchOracle),

    // faceted search: one scan, one bounded-heap pass grouped by
    // (query, label) — top matches within every category at once
    // faceted twin: the rank window partitions by (query, label)
    row("knn_per_label_batch", (s, d) => ExactKnn.topKPerLabelBatch(s, d), s"""
      WITH e AS (SELECT vec_id, label,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.label, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s
              AND q.vec_id >= p.s AND q.vec_id < p.s + 20)
      SELECT qid, label, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid, label
                                     ORDER BY dist, vec_id) AS INT) AS rk
      FROM d
      QUALIFY rk <= 3"""),

    // the same range search EXECUTED BY the streaming engine: queries
    // flow through the file stream source, the distance predicate runs
    // in the stream-static broadcast join (stateless, append mode) —
    // shares knn_range_search's oracle
    // streaming-executed twin: every (query, base) pair is scored
    // exactly once regardless of micro-batching, so the same relation
    row("knn_range_streamed",
      (s, d) => streaming.VectorStream.rangeSearchStreamed(s, d),
      rangeSearchOracle),

    // ANN SERVING over the stream: broadcast shard-graph replicas,
    // per-query scatter-gather + identical round-then-rank merge
    // inside the micro-batch — streamed == batch exactly, shares
    // knn_hnsw_batch's literal oracle
    // the streamed HNSW serving row replays the exact batch search
    // (same shard graphs, same round-then-rank merge)
    row("knn_hnsw_streamed", (s, d) => streaming.VectorStream.hnswTopKStreamed(s, d),
      GeneratedOracles.pins("knn_hnsw_batch")),

    row("knn_filtered_batch", (s, d) => ExactKnn.topKBatchFiltered(s, d), s"""
      WITH e AS (SELECT vec_id, label,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s AND b.label = 3
              AND q.vec_id >= p.s AND q.vec_id < p.s + 50)
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INT) AS rk
      FROM d
      QUALIFY rk <= 10"""),

    // filtered ANN on the shared HNSW graphs (post-filter + overfetch):
    // literal-oracle pinned (GeneratedOracles); recall vs the exact
    // filtered scan gated in HnswSpec
    row("knn_hnsw_filtered", (s, d) => HnswKnn.topKBatchFiltered(s, d),
      GeneratedOracles.pins("knn_hnsw_filtered")),

    row("knn_exact_after_insert", (s, d) => ExactKnn.topKAfterInsert(s, d),
      afterInsertOracle),

    // keyed delete (left-anti) then search: the oracle excludes the
    // slab by predicate, so a hash-match proves the delete dropped
    // exactly the keyed rows
    // after-insert oracle with the deleted 80-90% slab excluded by
    // predicate instead of by anti-join; shared by the exact and the
    // IVF (exhaustive-probe, exact by construction) delete paths
    row("knn_exact_after_delete", (s, d) => ExactKnn.topKAfterDelete(s, d),
      afterDeleteOracle),

    // the INDEX-side delete: the slab leaves the inverted file by the
    // same keyed anti-join; exhaustive probe is exact -> same oracle
    row("knn_ivf_after_delete", (s, d) => IvfKnn.topKAfterDelete(s, d),
      afterDeleteOracle),

    // the same mutation on the inverted-file family: insert_many into a
    // built IVF index, exhaustive probe (= exact), shared oracle
    // IVF insert_many + exhaustive probe is exact -> same oracle; the
    // hash gate covers the inverted-file mutation itself
    row("knn_ivf_after_insert", (s, d) => IvfKnn.topKAfterInsert(s, d),
      afterInsertOracle),

    // SQL-facing index search (DSv1 relation over the library entry
    // points): the query bodies are pure SQL — shares knn_exact_single's
    // oracle (exact backend); the HNSW view is approximate -> rows-only
    // the SQL-facing view over the exact backend answers the identical
    // question, so it shares knn_exact_single's oracle
    row("sql_knn_exact", (s, d) => sqlKnn(s, d,
      "backend 'exact', k '10', queryIdx '29'",
      v => s"SELECT vec_id, dist FROM $v ORDER BY dist ASC, vec_id ASC"),
      exactSingleOracle),

    // the same relation as the knn_hnsw_batch pin at sf0.01
    row("sql_knn_hnsw", (s, d) => sqlKnn(s, d,
      "backend 'hnsw', k '10'",
      v => s"SELECT qid, vec_id, dist, rk FROM $v"),
      GeneratedOracles.pins("knn_hnsw_batch")),

    // the quantized families are reachable from SQL too (PQ standing in
    // for pq/sq/ivfpq/rp — KnnDataSourceSpec pins all four to their
    // Scala entry points); approximate -> rows-only
    // the same relation as the knn_hnsw_batch pin at sf0.01
    row("sql_knn_pq", (s, d) => sqlKnn(s, d,
      "backend 'pq', k '10'",
      v => s"SELECT qid, vec_id, dist, rk FROM $v"),
      GeneratedOracles.pins("knn_hnsw_batch")),

    // the flat-graph family from pure SQL (shares knn_vamana_batch's
    // literal pin — the view answers with the same shard graphs)
    // the SQL-facing view runs the same shard graphs
    row("sql_knn_vamana", (s, d) => sqlKnn(s, d,
      "backend 'vamana', k '10'",
      v => s"SELECT qid, vec_id, dist, rk FROM $v"),
      GeneratedOracles.pins("knn_opq_batch")),

    // Data Source V2 binding: same backends, plus the V2 source-boundary
    // contracts — the qid predicate is PUSHED INTO the scan (negotiated
    // via SupportsPushDownFilters) and the projection prunes dist/rk out
    // of the read schema (KnnDataSourceSpec pins both in the executed
    // plan); shares the exact-batch arithmetic so it carries an oracle
    // the V2 view fixes one held-out qid (s + 25 mod the query count),
    // so the oracle is that query row's exact top-10 (same arithmetic
    // as knn_exact_batch)
    row("sql_knn_v2", (s, d) => {
      val (_, _, splitAt, n) = ExactKnn.split(s, d)
      val qid = splitAt + 25 % (n - splitAt) // same held-out-qid modulo as knn_exact_single
      sqlKnn(s, d, "backend 'exact_batch', k '10'",
        v => s"""SELECT vec_id, dist FROM $v
                 WHERE qid = $qid ORDER BY dist ASC, vec_id ASC""",
        provider = "graft.sources.KnnDataSourceV2")
    }, s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s, count(*) AS c FROM e)
      SELECT b.vec_id, $cosDistSql AS dist
      FROM e b, e q, p
      WHERE b.vec_id < p.s AND q.vec_id = p.s + (25 % (p.c - p.s))
      ORDER BY dist, b.vec_id LIMIT 10"""),

    // DSv2 AGGREGATE pushdown contract: count(*) collapses inside the
    // source to a one-row scan (KnnDataSourceSpec pins the plan shape)
    // k rows per held-out query by construction, so the count is
    // 10 x the query-split size — derived independently of the scan
    row("sql_knn_v2_count", (s, d) =>
      sqlKnn(s, d, "backend 'exact_batch', k '10'",
        v => s"SELECT count(*) AS n FROM $v",
        provider = "graft.sources.KnnDataSourceV2"), """
      SELECT CAST(10 * (c - s) AS BIGINT) AS n
      FROM (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s,
                   count(*) AS c
            FROM embeddings)"""),

    // DSv2 TOP-N pushdown contract: ORDER BY dist LIMIT k collapses
    // into the scan — no Sort above it (KnnDataSourceSpec pins the
    // shape); total (dist, vec_id) order keeps the cut deterministic
    // the pushed top-5 of the same fixed held-out query's exact top-10
    row("sql_knn_v2_topn", (s, d) => {
      val (_, _, splitAt, n) = ExactKnn.split(s, d)
      val qid = splitAt + 25 % (n - splitAt)
      sqlKnn(s, d, "backend 'exact_batch', k '10'",
        v => s"""SELECT vec_id, dist FROM $v
                 WHERE qid = $qid ORDER BY dist ASC, vec_id ASC LIMIT 5""",
        provider = "graft.sources.KnnDataSourceV2")
    }, s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s, count(*) AS c FROM e)
      SELECT b.vec_id, $cosDistSql AS dist
      FROM e b, e q, p
      WHERE b.vec_id < p.s AND q.vec_id = p.s + (25 % (p.c - p.s))
      ORDER BY dist, b.vec_id LIMIT 5"""),

    // user-supplied query vector from pure SQL (the reference's
    // index.search(query)): the vector literal is fixture row 29, so
    // the oracle is full-table knn of that row (self included, dist 0)
    // the 'search' backend's vector literal IS fixture row 29, so the
    // oracle is full-table knn of that row (self at distance 0)
    row("sql_knn_search", (s, d) => {
      import s.implicits._
      val vec = graft.Tables.embeddings(s, d)
        .filter(org.apache.spark.sql.functions.col("vec_id") === 29L)
        .select(graft.functions.VectorFunctions.toDoubleArray(
          org.apache.spark.sql.functions.col("embedding")))
        .as[Array[Double]].head()
      sqlKnn(s, d, s"backend 'search', k '10', vector '${vec.mkString(",")}'",
        v => s"SELECT vec_id, dist FROM $v ORDER BY dist ASC, vec_id ASC")
    }, s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings)
      SELECT b.vec_id, $cosDistSql AS dist
      FROM e b, e q
      WHERE q.vec_id = 29
      ORDER BY dist, b.vec_id LIMIT 10"""),

    // HNSW is approximate: no SQL oracle; quality is gated by the recall
    // queries below + HnswSpec (the reference's own pattern, main.rs:89-93)
    row("knn_hnsw_single", (s, d) => HnswKnn.topKSingle(s, d), """
      SELECT * FROM (VALUES (13,CAST(0.665352 AS DOUBLE)), (14,CAST(0.712639 AS DOUBLE)), (150,CAST(0.69746 AS DOUBLE)), (270,CAST(0.664085 AS DOUBLE)), (298,CAST(0.742493 AS DOUBLE)), (319,CAST(0.739859 AS DOUBLE)), (327,CAST(0.745665 AS DOUBLE)), (350,CAST(0.557078 AS DOUBLE)), (413,CAST(0.699272 AS DOUBLE)), (96,CAST(0.681981 AS DOUBLE))) AS t("vec_id", "dist")"""),

    row("knn_hnsw_batch", hnswBatch, GeneratedOracles.pins("knn_hnsw_batch")),

    // build -> save -> load -> search as ONE declared query: proves a
    // reloaded checkpoint answers identically (HnswSpec pins equality)
    // the same relation as the knn_hnsw_batch pin at sf0.01
    row("knn_hnsw_lifecycle", (s, d) => HnswKnn.topKBatchLifecycle(s, d),
      GeneratedOracles.pins("knn_hnsw_batch")),

    // recall/precision of the exact batch result against itself — the
    // oracle recomputes the same top-k in DuckDB and evaluates the same
    // semi-join + ratio, exercising E1-E3 end-to-end (both sides = 1.0).
    row("eval_recall_exact_self", (s, d) => {
      val ex = ExactKnn.topKBatch(s, d).select("qid", "vec_id")
      Evaluation.recall(ex, ex)
    }, s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s AND q.vec_id >= p.s),
      t AS (SELECT qid, vec_id FROM (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk
              FROM d) WHERE rk <= 10)
      SELECT round(CAST((SELECT count(*) FROM t a
                         WHERE EXISTS (SELECT 1 FROM t b
                                       WHERE b.qid = a.qid AND b.vec_id = a.vec_id)) AS DOUBLE)
                   / (SELECT count(*) FROM t), 6) AS recall"""),

    row("eval_precision_exact_self", (s, d) => {
      val ex = ExactKnn.topKBatch(s, d).select("qid", "vec_id")
      Evaluation.precision(ex, ex)
    }, s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s AND q.vec_id >= p.s),
      t AS (SELECT qid, vec_id FROM (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk
              FROM d) WHERE rk <= 10)
      SELECT round(CAST((SELECT count(*) FROM t a
                         WHERE EXISTS (SELECT 1 FROM t b
                                       WHERE b.qid = a.qid AND b.vec_id = a.vec_id)) AS DOUBLE)
                   / (SELECT count(*) FROM t), 6) AS precision"""),

    // GENERATED-LITERAL oracles for the seeded ANN evaluation surface:
    // every index family is engineered deterministic (seeded layer
    // sampling / hyperplanes / codebook training with pid-sorted
    // merges; DistributedQueriesSpec and the lifecycle specs pin
    // bit-equality), so each family's recall/MAP/MRR/nDCG against the
    // memoized exact ground truth, the ef sweep, the flagship HNSW
    // single-query answer, and the shard-graph stats are constants of
    // the frozen fixture. The literals also DOCUMENT the measured
    // quality operating point per family (e.g. ivf 0.8, mrl 0.956,
    // bq 0.912, bq256 0.98). The 250-row batch relations stay under
    // their spec-level recall gates where approximate semantics, not
    // byte equality, is the meaningful contract.
    row("eval_recall_hnsw", (s, d) => Evaluation.recall(
      hnswBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(1.0 AS DOUBLE))) AS t("recall")"""),

    // the 100-TB evaluation mode: ground truth brute-forced only for a
    // deterministic 1-in-10 query sample (O(n) instead of O(n²)), the
    // ANN side semi-joined down to the same qids
    // (no qid pre-filter needed: recall's (qid, vec_id) semi-join
    // against the sampled ground truth already ignores unsampled qids)
    row("eval_recall_hnsw_sampled", (s, d) => Evaluation.recall(
      hnswBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatchSampled(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(1.0 AS DOUBLE))) AS t("recall")"""),

    // the sampled ground truth ITSELF as a declared row with a REAL SQL
    // oracle (not a literal): O(|sample|·n) on both engines, so this is
    // the embedding row the 10x-tier hash replay can cover (the full
    // exact-GT oracle is deliberately quadratic)
    // the sampled exact GT replayed with REAL SQL: same split + top-k
    // reconstruction as knn_exact_batch, restricted to the 1-in-10
    // deterministic query sample — O(|sample|·n), the form that stays
    // replayable at the 10x tier
    row("knn_exact_batch_sampled", (s, d) => ExactKnn.topKBatchSampled(s, d), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s AND q.vec_id >= p.s
              AND (q.vec_id - p.s) % 10 = 0)
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INT) AS rk
      FROM d
      QUALIFY rk <= 10"""),

    // retrieved-set k-occurrence histogram over the same sampled GT
    row("emb_hubness_sampled", (s, d) => EmbeddingStats.hubnessSampled(s, d), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s AND q.vec_id >= p.s
              AND (q.vec_id - p.s) % 10 = 0),
      t AS (SELECT qid, vec_id,
              row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
                AS rk
            FROM d QUALIFY rk <= 10),
      o AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS k_occ
            FROM t GROUP BY 1)
      SELECT k_occ, CAST(count(*) AS BIGINT) AS n_vectors
      FROM o GROUP BY 1"""),

    row("knn_ivf_batch", ivfBatch, GeneratedOracles.pins("knn_ivf_batch")),

    // save (partitioned by cid) -> load -> probe: the reloaded scan
    // prunes to the probed partitions (IvfKnnSpec pins PartitionFilters
    // and bit-equality with the in-memory batch)
    // the same relation as the knn_ivf_batch pin at sf0.01
    row("knn_ivf_lifecycle", (s, d) => IvfKnn.topKBatchLifecycle(s, d),
      GeneratedOracles.pins("knn_ivf_batch")),

    row("eval_recall_ivf", (s, d) => Evaluation.recall(
      ivfBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(0.8 AS DOUBLE))) AS t("recall")"""),

    // MAP self-eval is oracle-exact: every hit's precision@rk is the
    // exact double rk/rk = 1.0, so the average is order-independent
    // generic MAP SQL over the self pair: per-hit running-hit-count /
    // rank summed per query, divided by |relevant| — every term is the
    // exact value 1.0 here, so the mean is engine-exact
    row("eval_map_exact_self", (s, d) => Evaluation.meanAveragePrecision(
      ExactKnn.topKBatch(s, d),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s AND q.vec_id >= p.s),
      t AS (SELECT qid, vec_id, rk FROM (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk
              FROM d) WHERE rk <= 10),
      h AS (SELECT a.qid, a.rk,
                   CAST(count(*) OVER (PARTITION BY a.qid ORDER BY a.rk)
                     AS DOUBLE) / a.rk AS prec
            FROM t a JOIN t r ON a.qid = r.qid AND a.vec_id = r.vec_id),
      ap AS (SELECT h.qid, sum(prec) / max(n.n_rel) AS ap
             FROM h JOIN (SELECT qid, count(*) AS n_rel FROM t GROUP BY 1) n
               ON h.qid = n.qid
             GROUP BY h.qid)
      SELECT round(avg(ap), 6) AS map FROM ap"""),

    row("eval_map_hnsw", (s, d) => Evaluation.meanAveragePrecision(
      hnswBatch(s, d),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(1.0 AS DOUBLE))) AS t("map")"""),

    row("eval_mrr_hnsw", (s, d) => Evaluation.meanReciprocalRank(
      hnswBatch(s, d),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(1.0 AS DOUBLE))) AS t("mrr")"""),

    row("eval_ndcg_hnsw", (s, d) => Evaluation.ndcgAtK(
      hnswBatch(s, d),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id"), 10), """
      SELECT * FROM (VALUES (CAST(1.0 AS DOUBLE))) AS t("ndcg")"""),

    // operational surfaces: per-shard graph stats; recall-vs-ef curve
    // (both approximate-index introspection -> rows-only, spec-gated)
    row("knn_hnsw_stats", (s, d) => HnswKnn.indexStats(s, d), """
      SELECT * FROM (VALUES (0,30,2,688,700,CAST(22.933333 AS DOUBLE)), (1,30,2,688,724,CAST(22.933333 AS DOUBLE)), (10,30,3,688,784,CAST(22.933333 AS DOUBLE)), (11,29,2,656,686,CAST(22.62069 AS DOUBLE)), (12,29,1,656,698,CAST(22.62069 AS DOUBLE)), (13,29,1,656,676,CAST(22.62069 AS DOUBLE)), (14,29,2,656,676,CAST(22.62069 AS DOUBLE)), (15,29,2,656,698,CAST(22.62069 AS DOUBLE)), (2,30,3,688,704,CAST(22.933333 AS DOUBLE)), (3,30,1,688,708,CAST(22.933333 AS DOUBLE)), (4,30,2,688,710,CAST(22.933333 AS DOUBLE)), (5,30,3,688,736,CAST(22.933333 AS DOUBLE)), (6,30,2,688,730,CAST(22.933333 AS DOUBLE)), (7,30,2,688,760,CAST(22.933333 AS DOUBLE)), (8,30,1,688,708,CAST(22.933333 AS DOUBLE)), (9,30,2,688,730,CAST(22.933333 AS DOUBLE))) AS t("shard", "n_nodes", "max_level", "l0_edges", "total_edges", "l0_mean_degree")"""),

    row("eval_hnsw_ef_sweep", (s, d) => Evaluation.hnswEfSweep(s, d), """
      SELECT * FROM (VALUES (10,CAST(1.0 AS DOUBLE)), (100,CAST(1.0 AS DOUBLE)), (50,CAST(1.0 AS DOUBLE))) AS t("ef", "recall")"""),

    // re-rank depth (overfetch) curve for the PQ family — the third
    // tuning surface after ef and beam; literal-pinned like its twins
    // literal pin (fresh-JVM bit-stable, the sweep-twin discipline):
    // the re-rank depth curve 0.672 -> 0.952 -> 1.0 at sf0.01
    row("eval_pq_overfetch_sweep", (s, d) => Evaluation.pqOverfetchSweep(s, d), """
      SELECT * FROM (VALUES (1,CAST(0.672 AS DOUBLE)), (16,CAST(1.0 AS DOUBLE)), (4,CAST(0.952 AS DOUBLE))) AS t("overfetch", "recall")"""),

    // the beam-width (L) operating curve on the Vamana graphs — the
    // flagship family's ef-sweep twin (literal-pinned + spec-gated)
    row("eval_vamana_beam_sweep", (s, d) => Evaluation.vamanaBeamSweep(s, d),
      GeneratedOracles.pins("eval_vamana_beam_sweep")),

    row("knn_rp_batch", rpBatch, GeneratedOracles.pins("knn_rp_batch")),

    row("eval_recall_rp", (s, d) => Evaluation.recall(
      rpBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(0.88 AS DOUBLE))) AS t("recall")"""),

    // data-dependent projection twin: covariance-eigenbasis reduction
    row("knn_pca_batch", pcaBatch, GeneratedOracles.pins("knn_pca_batch")),

    // train -> save -> load -> search over the persisted basis/projection
    // the same relation as the knn_pca_batch pin at sf0.01
    row("knn_pca_lifecycle", (s, d) => PcaKnn.topKBatchLifecycle(s, d),
      GeneratedOracles.pins("knn_pca_batch")),

    row("eval_recall_pca", (s, d) => Evaluation.recall(
      pcaBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(0.992 AS DOUBLE))) AS t("recall")"""),

    // the same relation as the knn_hnsw_batch pin at sf0.01
    row("knn_pq_batch", pqBatch, GeneratedOracles.pins("knn_hnsw_batch")),

    // PQ build -> save -> load -> search (bit-equal to the in-memory
    // index; completes the checkpoint surface across HNSW/IVF/PQ)
    // the same relation as the knn_hnsw_batch pin at sf0.01
    row("knn_pq_lifecycle", (s, d) => PqKnn.topKBatchLifecycle(s, d),
      GeneratedOracles.pins("knn_hnsw_batch")),

    row("eval_recall_pq", (s, d) => Evaluation.recall(
      pqBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(1.0 AS DOUBLE))) AS t("recall")"""),

    // OPQ: eigenvalue-allocation rotation in front of the PQ substrate
    // — balanced-variance subspaces, same ADC scan + exact re-rank
    row("knn_opq_batch", opqBatch, GeneratedOracles.pins("knn_opq_batch")),

    // rotation + codebooks + codes -> save -> load -> search, bit-equal
    // to the in-memory index (shares knn_opq_batch's literal pin)
    // the reloaded OPQ checkpoint answers bit-identically to the
    // in-memory index (same scan body over the same artifacts)
    row("knn_opq_lifecycle", (s, d) => OpqKnn.topKBatchLifecycle(s, d),
      GeneratedOracles.pins("knn_opq_batch")),

    // Vamana (DiskANN family): a flat alpha-pruned graph per shard on
    // the ShardedKnn harness HNSW runs on; at sf0.01 its rows equal the
    // knn_opq_batch pin
    row("knn_vamana_batch", vamanaBatch, GeneratedOracles.pins("knn_opq_batch")),

    // same bit-equal reload contract for the Vamana checkpoint
    row("knn_vamana_lifecycle", (s, d) => VamanaKnn.topKBatchLifecycle(s, d),
      GeneratedOracles.pins("knn_opq_batch")),

    // insert_many into built shard graphs (the alpha-pass insert IS
    // the build step), then search — literal-pinned + recall-gated
    row("knn_vamana_after_insert", (s, d) => VamanaKnn.topKAfterInsert(s, d),
      GeneratedOracles.pins("knn_vamana_after_insert")),

    row("eval_recall_vamana", (s, d) => Evaluation.recall(
      vamanaBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(1.0 AS DOUBLE))) AS t("recall")"""),

    row("eval_recall_opq", (s, d) => Evaluation.recall(
      opqBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(1.0 AS DOUBLE))) AS t("recall")"""),

    // maximum inner product (MIPS): the recommender scoring mode
    row("knn_mips_single", (s, d) => ExactKnn.topKSingleMips(s, d), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s, count(*) AS c FROM e)
      SELECT b.vec_id,
             round(list_sum(list_transform(list_zip(b.emb, q.emb),
                   z -> z[1]*z[2])), 6) AS score
      FROM e b, e q, p
      WHERE b.vec_id < p.s AND q.vec_id = p.s + (29 % (p.c - p.s))
      ORDER BY score DESC, b.vec_id LIMIT 10"""),

    // 1-bit sign quantization: XOR+popcount Hamming coarse scan over
    // one-long-per-vector codes + exact re-rank (64x scan compression)
    // the 1-bit sign-quantization batch replayed with REAL SQL at ANY
    // tier (third quantizer pin converted): the
    // quantizer is the CONSTANT sign-at-zero threshold, so the coarse
    // stage is pure INTEGER Hamming — count of dimensions whose sign
    // bit differs (exactly bit_count(code XOR qcode) on the packed
    // words) — with zero float risk; k*overfetch=160 candidates per
    // query under the engine's (hamming, vec_id) tie order, then the
    // shared exact re-rank
    row("knn_bq_batch", bqBatch, s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      cd AS (SELECT q.vec_id AS qid, b.vec_id,
                    list_sum(list_transform(list_zip(b.emb, q.emb),
                      z -> CASE WHEN (z[1] > 0) <> (z[2] > 0)
                           THEN 1 ELSE 0 END)) AS hamming
             FROM e b, e q, p
             WHERE b.vec_id < p.s AND q.vec_id >= p.s),
      cand AS (SELECT qid, vec_id FROM cd
               QUALIFY row_number()
                 OVER (PARTITION BY qid ORDER BY hamming, vec_id) <= 160),
      d AS (SELECT c.qid, b.vec_id, $cosDistSql AS dist
            FROM cand c
            JOIN e b ON b.vec_id = c.vec_id
            JOIN e q ON q.vec_id = c.qid)
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
               AS INT) AS rk
      FROM d
      QUALIFY rk <= 10"""),

    row("eval_recall_bq", (s, d) => Evaluation.recall(
      bqBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(0.912 AS DOUBLE))) AS t("recall")"""),

    // the BQ family's SCALE operating point: 256 hyperplane bits (4 long
    // words, still codegen'd XOR+popcount) — ScaleSpec shows the 64-bit
    // sign code's recall decays at 10x sf0.1 while this holds >= 0.6
    // with the same constant overfetch; rows-only + recall-gated
    row("knn_bq256_batch", bq256Batch, GeneratedOracles.pins("knn_bq256_batch")),

    row("eval_recall_bq256", (s, d) => Evaluation.recall(
      bq256Batch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(0.98 AS DOUBLE))) AS t("recall")"""),

    // composed-layout checkpoint: build -> save (cid-partitioned code
    // lists) -> load -> search, bit-equal to the in-memory index
    // the same relation as the knn_ivf_batch pin at sf0.01
    row("knn_ivfpq_lifecycle", (s, d) => IvfPqKnn.topKBatchLifecycle(s, d),
      GeneratedOracles.pins("knn_ivf_batch")),

    // Matryoshka truncated-dimension coarse scan + exact re-rank
    // the Matryoshka batch replayed with REAL SQL at ANY tier (the
    // first quantizer-batch pin converted to a reconstruction):
    // stage 1 coarse-scores on the 32-dim PREFIX
    // (DuckDB's 1-based inclusive slice emb[1:32] is Spark's
    // slice(emb,1,32)) with the identical clamp-then-round cosine,
    // keeps k*overfetch=160 candidates per query under the same
    // (cdist, vec_id) tie order as the bounded heap, then stage 2
    // re-ranks only the survivors at full dimension — the same
    // two-stage plan the engine runs, so the hash certifies BOTH
    // stages including the coarse-boundary tie behavior
    row("knn_mrl_batch", mrlBatch, s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      cd AS (SELECT q.vec_id AS qid, b.vec_id,
                    round(1 - greatest(
                      list_sum(list_transform(list_zip(b.emb[1:32], q.emb[1:32]),
                                              z -> z[1]*z[2])) /
                      (sqrt(list_sum(list_transform(b.emb[1:32], x -> x*x))) *
                       sqrt(list_sum(list_transform(q.emb[1:32], x -> x*x)))),
                      0), 6) AS cdist
             FROM e b, e q, p
             WHERE b.vec_id < p.s AND q.vec_id >= p.s),
      cand AS (SELECT qid, vec_id FROM cd
               QUALIFY row_number()
                 OVER (PARTITION BY qid ORDER BY cdist, vec_id) <= 160),
      d AS (SELECT c.qid, b.vec_id, $cosDistSql AS dist
            FROM cand c
            JOIN e b ON b.vec_id = c.vec_id
            JOIN e q ON q.vec_id = c.qid)
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
               AS INT) AS rk
      FROM d
      QUALIFY rk <= 10"""),

    row("eval_recall_mrl", (s, d) => Evaluation.recall(
      mrlBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(0.956 AS DOUBLE))) AS t("recall")"""),

    // the SQ8 batch replayed with REAL SQL at ANY tier (second
    // quantizer-batch pin converted): the
    // "training" is just per-dimension min/max over the base split, so
    // the oracle re-derives the bounds, re-encodes (floor(x+0.5)
    // replicates Java Math.round exactly; clamp [0,255]; degenerate
    // span encodes the min), decodes base vectors, coarse-scores the
    // decoded base against raw queries with the same clamp cosine,
    // keeps k*overfetch=160 per query under the engine's
    // (approx_dist, vec_id) tie order, and exact-re-ranks the
    // survivors — certifying train+encode+decode+both rankings
    row("knn_sq_batch", sqBatch, s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      dims AS (SELECT i AS dim, min(e.emb[i]) AS mn, max(e.emb[i]) AS mx
               FROM e, p, range(1, 65) t(i)
               WHERE e.vec_id < p.s
               GROUP BY i),
      db AS (SELECT e.vec_id,
                    list(CASE WHEN d.mx - d.mn <= 0 THEN d.mn
                              ELSE d.mn + LEAST(255, GREATEST(0,
                                CAST(floor(255.0 * (e.emb[d.dim] - d.mn)
                                           / (d.mx - d.mn) + 0.5) AS INT)))
                                / 255.0 * (d.mx - d.mn)
                         END ORDER BY d.dim) AS demb
             FROM e, p, dims d
             WHERE e.vec_id < p.s
             GROUP BY e.vec_id),
      cd AS (SELECT q.vec_id AS qid, b.vec_id,
                    1 - greatest(
                      list_sum(list_transform(list_zip(b.demb, q.emb),
                                              z -> z[1]*z[2])) /
                      (sqrt(list_sum(list_transform(b.demb, x -> x*x))) *
                       sqrt(list_sum(list_transform(q.emb, x -> x*x)))),
                      0) AS adist
             FROM db b, e q, p
             WHERE q.vec_id >= p.s),
      cand AS (SELECT qid, vec_id FROM cd
               QUALIFY row_number()
                 OVER (PARTITION BY qid ORDER BY adist, vec_id) <= 160),
      d AS (SELECT c.qid, b.vec_id, $cosDistSql AS dist
            FROM cand c
            JOIN e b ON b.vec_id = c.vec_id
            JOIN e q ON q.vec_id = c.qid)
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
               AS INT) AS rk
      FROM d
      QUALIFY rk <= 10"""),

    row("eval_recall_sq", (s, d) => Evaluation.recall(
      sqBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(1.0 AS DOUBLE))) AS t("recall")"""),

    // the same relation as the knn_ivf_batch pin at sf0.01
    row("knn_ivfpq_batch", ivfpqBatch, GeneratedOracles.pins("knn_ivf_batch")),

    row("eval_recall_ivfpq", (s, d) => Evaluation.recall(
      ivfpqBatch(s, d).select("qid", "vec_id"),
      ExactKnn.topKBatch(s, d).select("qid", "vec_id")), """
      SELECT * FROM (VALUES (CAST(0.8 AS DOUBLE))) AS t("recall")"""),

    // PQ-vs-OPQ mean squared reconstruction error off the cached code
    // tables — the number the rotation exists to lower
    row("eval_quantization_distortion", (s, d) => OpqKnn.quantizationDistortion(s, d),
      GeneratedOracles.pins("eval_quantization_distortion")),

    // contrastive HARD negatives: nearest base vectors with a
    // DIFFERENT label than the query — the label predicate runs inside
    // the broadcast-NLJ scan stage, one bounded-heap pass per query
    // hard-negative twin: the base-side predicate is label-INEQUALITY
    // against the query's own label
    row("knn_hard_negatives", (s, d) => ExactKnn.hardNegatives(s, d), s"""
      WITH e AS (SELECT vec_id, label,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s AND b.label <> q.label
              AND q.vec_id >= p.s AND q.vec_id < p.s + 50)
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INT) AS rk
      FROM d
      QUALIFY rk <= 10"""),

    // Wang-Isola alignment/uniformity embedding-health summary
    // identical unit vectors, lead-per-label positives, 64-probe
    // panel; every cross-row sum is an exact quantized integer
    row("emb_alignment_uniformity", (s, d) => EmbeddingStats.alignmentUniformity(s, d),
      """
      WITH e AS (SELECT vec_id, label,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      n AS (SELECT vec_id, label,
                   list_transform(v, x -> x /
                     nullif(sqrt(list_sum(list_transform(v, y -> y*y))), 0)) AS nv
            FROM e),
      p AS (SELECT nv,
              lead(nv) OVER (PARTITION BY label ORDER BY vec_id) AS nxt
            FROM n),
      pos AS (SELECT CAST(count(*) AS BIGINT) AS n_pos,
                CAST(sum(CAST(round(round(2.0 - 2.0 *
                  list_sum(list_transform(list_zip(nv, nxt),
                    z -> z[1]*z[2])), 6) * 1000000.0, 0) AS BIGINT))
                  AS BIGINT) AS s6
              FROM p WHERE nxt IS NOT NULL),
      panel AS (SELECT vec_id AS pid, nv AS pv FROM n
                ORDER BY vec_id LIMIT 64),
      uni AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(CAST(round(exp(-2.0 * round(2.0 - 2.0 *
                  list_sum(list_transform(list_zip(a.nv, panel.pv),
                    z -> z[1]*z[2])), 6)) * 1000000000.0, 0) AS BIGINT))
                  AS BIGINT) AS se9
              FROM n a, panel WHERE a.vec_id <> panel.pid)
      SELECT n_pos,
             round(CAST(s6 AS DOUBLE) / n_pos / 1000000.0, 6) AS alignment,
             n_pairs,
             round(ln(CAST(se9 AS DOUBLE) / n_pairs / 1000000000.0), 6)
               AS uniformity
      FROM pos, uni"""),

    // LDA-criterion class separability of the labeled embeddings
    // two-level quantization (micro coords, micro re-quantized means),
    // DECIMAL scatter sums, one final division
    row("emb_fisher_separability", (s, d) => EmbeddingStats.fisherSeparability(s, d),
      """
      WITH e AS (SELECT label,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                     AS BIGINT) AS x6
                 FROM embeddings),
      byld AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS nl,
                 CAST(sum(x6) AS BIGINT) AS s,
                 CAST(sum(x6 * x6) AS HUGEINT) AS x2
               FROM e GROUP BY 1, 2),
      m AS (SELECT label, dim, nl, s, x2,
              CAST(round(CAST(s AS DOUBLE) / nl) AS BIGINT) AS m6
            FROM byld),
      byd AS (SELECT dim,
                CAST(round(CAST(sum(s) AS DOUBLE) / sum(nl)) AS BIGINT)
                  AS g6
              FROM byld GROUP BY 1),
      agg AS (SELECT CAST(count(DISTINCT m.label) AS BIGINT) AS n_labels,
                CAST(count(DISTINCT m.dim) AS BIGINT) AS n_dims,
                CAST(sum(CAST(m.nl * (m.m6 - byd.g6) * (m.m6 - byd.g6)
                  AS HUGEINT)) AS HUGEINT) AS b,
                CAST(sum(m.x2 - CAST(2 * m.m6 * m.s AS HUGEINT)
                  + CAST(m.nl * m.m6 * m.m6 AS HUGEINT)) AS HUGEINT) AS w
              FROM m JOIN byd USING (dim))
      SELECT n_labels, n_dims,
             CAST(b AS BIGINT) AS between_ss,
             CAST(w AS BIGINT) AS within_ss,
             round(CAST(b AS DOUBLE) / CAST(w AS DOUBLE), 6)
               AS fisher_ratio
      FROM agg"""),

    // label-centroid separation matrix over quantized-exact means
    row("emb_centroid_distances", (s, d) => EmbeddingStats.centroidDistances(s, d), """
      WITH d AS (SELECT label, CAST(i AS INT) AS dim,
                        CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                          * 1000000) AS BIGINT) AS qv
                 FROM embeddings, range(1, 65) t(i)
                 WHERE i <= len(embedding)),
      c AS (SELECT label, dim,
                   CAST(sum(qv) AS DOUBLE) / (count(*) * 1000000) AS m
            FROM d GROUP BY 1, 2),
      l AS (SELECT label, list(m ORDER BY dim) AS cv FROM c GROUP BY 1)
      SELECT a.label AS label_a, b.label AS label_b,
             round(sqrt(list_sum(list_transform(list_zip(a.cv, b.cv),
               z -> (z[1]-z[2])*(z[1]-z[2])))), 6) AS centroid_dist
      FROM l a JOIN l b ON a.label < b.label"""),

    // one-pass distributed covariance PCA (rows-only: no SQL eigensolve;
    // moments + spectrum pinned in EmbeddingStatsSpec)
    row("emb_pca_variance", (s, d) => EmbeddingStats.pcaVariance(s, d),
      GeneratedOracles.pins("emb_pca_variance")),

    // label-conditional outlier screen (farthest-from-own-centroid)
    // centroids from integer-quantized coordinates (exact BIGINT sums
    // in any accumulation order), distance as a fixed-order list fold
    // same quantized centroids, then the per-vector distance fold and
    // the global (dist desc, vec_id) top-20
    row("emb_outlier_topk", (s, d) => EmbeddingStats.outlierTopK(s, d), """
      WITH d AS (SELECT label, CAST(i AS INT) AS dim,
                        CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                          * 1000000) AS BIGINT) AS qv
                 FROM embeddings, range(1, 65) t(i)
                 WHERE i <= len(embedding)),
      c AS (SELECT label, dim,
                   CAST(sum(qv) AS DOUBLE) / (count(*) * 1000000) AS m
            FROM d GROUP BY 1, 2),
      l AS (SELECT label, list(m ORDER BY dim) AS cv FROM c GROUP BY 1),
      s AS (SELECT e.vec_id, e.label,
                   round(sqrt(list_sum(list_transform(
                     list_zip(list_transform(e.embedding,
                       x -> CAST(x AS DOUBLE)), l.cv),
                     z -> (z[1]-z[2])*(z[1]-z[2])))), 6) AS dist
            FROM embeddings e JOIN l USING (label))
      SELECT vec_id, label, dist,
             CAST(row_number() OVER (ORDER BY dist DESC, vec_id) AS INT) AS rk
      FROM s QUALIFY rk <= 20"""),

    // deterministic Lloyd k-means (exact integer arithmetic; centroids
    // broadcast, one map-only pass per iteration — the oracle unrolls
    // the same three Lloyd steps as CTE stages)
    // the engine's distributed Lloyd loop (integer-exact arithmetic)
    // replayed serially: three unrolled assign/update CTE stages from
    // the k-smallest-vec_id init, then the final nearest-centroid
    // assignment — every output column an integer, so the hash gate
    // certifies the whole iteration history, not just the last step
    row("emb_kmeans", (s, d) => EmbeddingStats.kmeansAssignments(s, d),
      kmeansAssignOracle),

    // nearest-centroid (Rocchio) classifier: train on the 95% prefix,
    // classify the held-out tail; the model-based filter-gate shape
    // the same quantize -> per-label HALF_UP centroid -> exact integer
    // argmin chain, replayed relationally; split point = round(0.95 n)
    row("emb_centroid_classifier", (s, d) => EmbeddingStats.centroidPredictions(s, d),
      centroidClassifierOracle),

    row("emb_centroid_confusion", (s, d) => EmbeddingStats.centroidConfusion(s, d), s"""
      WITH preds AS ($centroidClassifierOracle)
      SELECT label, pred, CAST(count(*) AS BIGINT) AS n
      FROM preds GROUP BY 1, 2"""),

    // does a geometry-only clustering recover the labels: per-cluster
    // dominant label + integer-permille purity
    row("emb_cluster_label_purity", (s, d) => EmbeddingStats.clusterLabelPurity(s, d),
      kmeansPurityOracle),

    // the SAME assignment PRODUCED BY the streaming engine at
    // ingestion time (file stream source -> broadcast centroid argmin
    // inside the micro-batch -> memory sink): stateless per-row, so
    // streamed == batch and it shares emb_kmeans's unrolled-Lloyd
    // oracle — index maintenance without a batch re-assignment job
    // the streamed assignment is per-row stateless: one shared val, so
    // the batch and streamed twins can never gate on diverged oracles
    row("emb_kmeans_streamed",
      (s, d) => graft.streaming.VectorStream.kmeansAssignStreamed(s, d),
      kmeansAssignOracle),

    // sphere-coverage diagnostic: norm of the mean unit vector (the
    // anisotropy that inflates every cosine) via two-level integer
    // quantization — one map-side-combinable pass over the coordinates
    // quantization: micro-unit longs per coordinate before the per-dim
    // sum, 1e-12-unit longs per squared-mean term before the
    // cross-dim sum — bit-for-bit the Spark arithmetic
    row("emb_isotropy", (s, d) => EmbeddingStats.isotropy(s, d), """
      WITH n AS (SELECT vec_id,
                   list_transform(list_transform(embedding,
                       x -> CAST(x AS DOUBLE)),
                     x -> x / nullif(sqrt(list_sum(list_transform(
                       list_transform(embedding, y -> CAST(y AS DOUBLE)),
                       y -> y*y))), 0)) AS nv
                 FROM embeddings),
      d AS (SELECT CAST(i AS INT) AS pos,
                   CAST(round(nv[CAST(i AS INT)] * 1000000) AS BIGINT) AS qc
            FROM n, range(1, 65) t(i) WHERE i <= len(nv)),
      p AS (SELECT pos, sum(qc) AS qsum, count(*) AS cnt FROM d GROUP BY 1),
      t AS (SELECT cnt, CAST(round(pow(CAST(qsum AS DOUBLE)/(cnt*1000000), 2)
                                   * 1e12) AS BIGINT) AS term FROM p),
      s AS (SELECT cnt AS n_vectors, sum(term) AS t2 FROM t GROUP BY 1)
      SELECT n_vectors,
             round(sqrt(CAST(t2 AS DOUBLE)/1e12), 6) AS mean_norm,
             round(1 - sqrt(CAST(t2 AS DOUBLE)/1e12), 6) AS isotropy
      FROM s"""),

    // RankMe effective rank: exp-entropy of the covariance spectrum —
    // representation-collapse monitor (deterministic Jacobi eigensolve
    // over the one-pass moment aggregation; literal-oracle pinned)
    row("emb_effective_rank", (s, d) => EmbeddingStats.effectiveRank(s, d),
      GeneratedOracles.pins("emb_effective_rank")),

    // TwoNN intrinsic dimension: MLE over r2/r1 NN-distance ratios —
    // the MANIFOLD dimension next to effective_rank's linear span
    // TwoNN replay, PROBE-STRIDE-PARAMETERIZED like the engine (the
    // former SQL hard-coded the stride-1 all-pairs
    // form this tier happens to resolve to, so it could not replay at
    // derived tiers): stride = greatest(1, n // 512), probes =
    // vec_id % stride = 0 against the FULL corpus — same round-6
    // cosine distances, same (r1, r2) read off the sorted per-probe
    // distance multiset (tie order cannot change the position-1/2
    // VALUES), micro-nat integer log quantization before the sum, one
    // final division
    row("emb_intrinsic_dim", (s, d) => EmbeddingStats.twoNNIntrinsicDim(s, d), s"""
      WITH e AS MATERIALIZED (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      n AS (SELECT count(*) AS n_points,
                   greatest(1, count(*) // 512) AS st
            FROM e),
      qq AS MATERIALIZED (SELECT vec_id, emb FROM e, n
            WHERE vec_id % n.st = 0),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, qq q
            WHERE b.vec_id <> q.vec_id),
      r AS (SELECT qid, dist, row_number() OVER (PARTITION BY qid
              ORDER BY dist, vec_id) AS rk FROM d),
      t AS (SELECT qid,
              max(CASE WHEN rk = 1 THEN dist END) AS r1,
              max(CASE WHEN rk = 2 THEN dist END) AS r2
            FROM r WHERE rk <= 2 GROUP BY qid),
      u AS (SELECT CAST(round(ln(r2 / r1) * 1000000.0) AS BIGINT) AS lg
            FROM t WHERE r1 > 0),
      s AS (SELECT count(*) AS n_used, CAST(sum(lg) AS BIGINT) AS sm FROM u)
      SELECT n_points, n_used, sm AS sum_log_mu_micro,
             round(n_used * 1000000.0 / sm, 4) AS twonn_dim
      FROM n CROSS JOIN s"""),

    // centroid-form silhouette (O(n·k), the shape that survives scale)
    // over the same memoized k-means model
    // centroid-form silhouette over the same final centroids: per
    // vector, a = dist to own centroid, b = dist to nearest other,
    // s = (b-a)/max(a,b) quantized to micro-units BEFORE the cluster
    // mean so the aggregation is an exact integer sum in any order
    row("emb_kmeans_silhouette", (s, d) => EmbeddingStats.kmeansSilhouette(s, d),
      s"""$kmeansCtes,
      w AS (SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cid) AS rn FROM df),
      own AS (SELECT vec_id, cid, d2 AS d2own FROM w WHERE rn = 1),
      oth AS (SELECT w.vec_id, min(w.d2) AS d2oth
              FROM w JOIN own USING (vec_id) WHERE w.cid <> own.cid
              GROUP BY w.vec_id),
      s AS (SELECT own.cid, CAST(round(
              (sqrt(CAST(d2oth AS DOUBLE)) - sqrt(CAST(d2own AS DOUBLE)))
                / greatest(sqrt(CAST(d2own AS DOUBLE)),
                           sqrt(CAST(d2oth AS DOUBLE)), 1e-300)
              * 1000000) AS BIGINT) AS sm
            FROM own JOIN oth USING (vec_id))
      SELECT CAST(cid AS INT) AS cid, count(*) AS n,
             round(CAST(sum(sm) AS DOUBLE) / count(*) / 1000000, 6)
               AS mean_sil
      FROM s GROUP BY cid"""),

    // density clustering: deterministic DBSCAN (min-label border
    // attachment) over the planted-density pair relation
    // deterministic DBSCAN replayed in full: the same planted pair
    // relation as neardup_embedding_lsh, degree-based core test,
    // recursive-CTE components of the core-core graph (min-label,
    // exact for any diameter), min-label border attachment
    row("emb_dbscan", (s, d) => Dedup.dbscanClusters(s, d), dbscanOracleSql("0.45", 3)),

    // the LSH-banded pair source with the identical downstream chain —
    // the dbscan scale path, measured linear at the 10x tier
    // the LSH-legged scale path at the high-similarity operating point
    row("emb_dbscan_lsh", (s, d) => Dedup.dbscanClustersLsh(s, d),
      dbscanOracleSql("0.98", 2)),
  )
}
