package graft
package queries

import graft.operators.{Dedup, HybridSearch, TextOps}
import OracleSql.{cosDistSql, knChainSql}

/** Text rows: tokenizers, language ID, lexical scoring, hybrid search and
  * the distinct-count / frequency sketches (`text_`, `hybrid_`, `sketch_`,
  * `sql_sketch_users`).
  */
object TextQueries {

  /** Shared by `text_quality` and `text_quality_streamed` (the
    * streamed row is the same stateless projection executed by the
    * streaming engine — one string, so the twins cannot diverge).
    */
  private def qualityOracle: String = """
      WITH q AS (
        SELECT doc_id, len(w) AS n_words,
          list_sum(list_transform(w, t -> length(t))) / CAST(len(w) AS DOUBLE) AS mean_wlen_raw,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents))
      SELECT doc_id, CAST(n_words AS INT) AS n_words,
             round(mean_wlen_raw, 6) AS mean_wlen,
             round(stop_raw, 6) AS stopword_ratio,
             round(alpha_raw, 6) AS alpha_ratio,
             round(least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                   + least(n_words / 50.0, 1.0) * 0.3, 6) AS quality
      FROM q"""

  /** The s/g/sc CTE bodies shared by the BM25 oracle and the hybrid
    * fusion oracle (names prefixed bm_ to avoid collisions).
    */
  private def bm25Ctes(terms: Seq[String]): String = {
    val tfDefs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n               ")
    val dfDefs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
      .mkString(",\n                   ")
    val scoreSum = terms.indices.map(i => s"""
            ln(CAST(1.0 AS DOUBLE) + (n - df$i + CAST(0.5 AS DOUBLE)) / (df$i + CAST(0.5 AS DOUBLE)))
              * CAST(tf$i AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
              / (CAST(tf$i AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                 (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sumdl AS DOUBLE) / n)))""")
      .mkString("\n          +")
    s"""bm_s AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
               $tfDefs
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      bm_g AS (SELECT count(*) AS n, sum(dl) AS sumdl,
                   $dfDefs
            FROM bm_s),
      bm_sc AS (SELECT doc_id, round($scoreSum, 6) AS score FROM bm_s, bm_g)"""
  }

  /** BM25 oracle for an arbitrary term list — the same per-term
    * arithmetic and left-to-right `t0 + t1 + ...` fold as the
    * text_bm25_topk oracle, generated per term (k1=1.2, b=0.75).
    * Matches TextOps.bm25TopKExploded bit-for-bit: absent terms add an
    * exact 0.0, so the exploded term-index-ordered fold is the same
    * IEEE sum.
    */
  private def bm25Sql(terms: Seq[String], k: Int): String = s"""
      WITH ${bm25Ctes(terms)}
      SELECT doc_id, score FROM bm_sc WHERE score > 0
      ORDER BY score DESC, doc_id ASC LIMIT $k"""

  /** The fusion CTE chain shared by the rrf row and the composed
    * serving flagship: both legs, both rank relations, and a `fused`
    * relation holding the top-`fuseK` RRF results.
    */
  private def hybridFusionCtes(terms: Seq[String], depth: Int,
      kRrf: Int, fuseK: Int): String = s"""
      WITH ${bm25Ctes(terms)},
      bm_top AS (SELECT doc_id, score FROM bm_sc WHERE score > 0
                 ORDER BY score DESC, doc_id ASC LIMIT $depth),
      bm_r AS (SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                   AS INT) AS bm25_rank
               FROM bm_top),
      e AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s,
                   count(*) AS c FROM e),
      v_top AS (SELECT b.vec_id, $cosDistSql AS dist
                FROM e b, e q, p
                WHERE b.vec_id < p.s AND q.vec_id = p.s + (29 % (p.c - p.s))
                ORDER BY dist, b.vec_id LIMIT $depth),
      v_r AS (SELECT vec_id AS doc_id,
                CAST(row_number() OVER (ORDER BY dist, vec_id) AS INT)
                  AS vec_rank
              FROM v_top),
      fused AS (
        SELECT coalesce(bm_r.doc_id, v_r.doc_id) AS doc_id,
               round(coalesce(CAST(1.0 AS DOUBLE) / (bm25_rank + $kRrf),
                       CAST(0 AS DOUBLE))
                   + coalesce(CAST(1.0 AS DOUBLE) / (vec_rank + $kRrf),
                       CAST(0 AS DOUBLE)), 6) AS rrf,
               bm25_rank, vec_rank
        FROM bm_r FULL OUTER JOIN v_r ON bm_r.doc_id = v_r.doc_id
        ORDER BY rrf DESC, doc_id ASC LIMIT $fuseK)"""

  /** Reciprocal-rank fusion oracle: same two legs (BM25 at `depth`,
    * exact cosine top-`depth` for held-out query 29) ranked and fused
    * with every float constant cast to DOUBLE (DuckDB decimal-literal
    * trap) and ranks cast to INT (Spark row_number type).
    */
  private def hybridRrfSql(terms: Seq[String], k: Int, depth: Int,
      kRrf: Int): String =
    hybridFusionCtes(terms, depth, kRrf, k) + """
      SELECT doc_id, rrf, bm25_rank, vec_rank FROM fused"""

  private def hybridEndToEndSql(terms: Seq[String], k: Int, depth: Int,
      kRrf: Int, fuseK: Int, perSource: Int): String =
    hybridFusionCtes(terms, depth, kRrf, fuseK) + s""",
      ws AS (SELECT f.doc_id, d.source, f.rrf, f.bm25_rank, f.vec_rank,
               row_number() OVER (PARTITION BY d.source
                 ORDER BY f.rrf DESC, f.doc_id ASC) AS sr
             FROM fused f JOIN documents d USING (doc_id)),
      kept AS (SELECT *, CAST(row_number() OVER (ORDER BY rrf DESC,
                 doc_id ASC) AS INT) AS rank
               FROM ws WHERE sr <= $perSource)
      SELECT rank, doc_id, source, rrf, bm25_rank, vec_rank
      FROM kept WHERE rank <= $k"""

  /** The MMR greedy loop replayed as UNROLLED SQL (r14: was a
    * generated literal at both tiers) — the kmeans-oracle discipline
    * applied to re-ranking: candidates are the held-out query's exact
    * top-`depth` (the knn_exact_single arithmetic, LIMIT depth), and
    * each of the k selection rounds is one CTE pair
    * (p_i = the argmax row by (score DESC, vec_id), r_i = the
    * remaining candidates with the running max-similarity-to-selected
    * folded in via greatest()). Float parity: the engine's
    * `λ·(1−dist) − (1−λ)·maxSim` is replayed with explicit DOUBLE
    * casts so (1.0 − 0.7) is the same binary 0.30000000000000004 on
    * both sides; dots ride the corpus-standard list_zip fold; each
    * per-chosen dot clamps to [0,1] before the max, and only the
    * emitted score rounds (HALF_UP 6, like the engine's BigDecimal).
    * O(depth·n + k·depth²) at any tier — replays where quadratic
    * relations cannot.
    */
  private def mmrOracleSql(k: Int, depth: Int): String = {
    val lam = "CAST(0.7 AS DOUBLE)"
    val oml = "(CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))"
    val score = s"$lam * (CAST(1.0 AS DOUBLE) - dist) - $oml * ms"
    val head = s"""
      WITH e AS MATERIALIZED (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s,
                   count(*) AS c FROM e),
      qv AS MATERIALIZED (SELECT vec_id, emb FROM e, p
            WHERE vec_id = p.s + (29 % (p.c - p.s))),
      cand0 AS (SELECT b.vec_id, $cosDistSql AS dist
                FROM e b, qv q, p
                WHERE b.vec_id < p.s
                ORDER BY dist, b.vec_id LIMIT $depth),
      nrm AS (SELECT vec_id,
              list_transform(emb, x -> x /
                nullif(sqrt(list_sum(list_transform(emb, y -> y*y))), 0))
                AS nv
              FROM e),
      r0 AS MATERIALIZED (SELECT c.vec_id, c.dist, n.nv,
              CAST(0.0 AS DOUBLE) AS ms
            FROM cand0 c JOIN nrm n USING (vec_id))"""
    val stages = (1 to k).flatMap { i =>
      val pick = s"""
      p$i AS MATERIALIZED (SELECT vec_id, dist, nv, ms, $score AS score
        FROM r${i - 1} ORDER BY score DESC, vec_id LIMIT 1)"""
      val next =
        if (i == k) Nil
        else Seq(s"""
      r$i AS MATERIALIZED (SELECT r.vec_id, r.dist, r.nv,
          greatest(r.ms, least(greatest(
            list_sum(list_transform(list_zip(r.nv, s.nv), z -> z[1]*z[2])),
            CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))) AS ms
        FROM r${i - 1} r, p$i s WHERE r.vec_id <> s.vec_id)""")
      pick +: next
    }
    val union = (1 to k).map(i =>
      s"SELECT $i AS rank, vec_id, round(score, 6) AS mmr_score FROM p$i")
      .mkString("\n      UNION ALL\n      ")
    head + "," + stages.mkString(",") + "\n      " + union
  }

  /** Shared by `sketch_heavy_hitters_cms` and
    * `sketch_heavy_hitters_streamed`:
    * At the declared 4x32768 grid an all-rows collision needs
    * (n/width)^4 luck per key (~1e-9 for the fixture's key count), so
    * the CMS estimate IS the exact count — the estimate==exact twin
    * is the contract under the hash gate; the overestimate/eps-bound
    * behavior at forced collision widths is pinned in CountMinSpec
    */
  private val heavyHittersOracle: String = """
      SELECT CAST(user_id AS BIGINT) AS user_id,
             count(*) AS cms_estimate, count(*) AS exact_count
      FROM events GROUP BY 1
      ORDER BY cms_estimate DESC, user_id LIMIT 10"""

  /** Shared by `sketch_users_per_type`, `sketch_users_streamed` and
    * `sql_sketch_users`.
    */
  private val sketchUsersOracle: String = """
      WITH h AS (SELECT DISTINCT event_type,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split(CAST(user_id AS VARCHAR), ''),
                  c -> CAST(unicode(c) AS BIGINT))),
                (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
            FROM events),
      r AS (SELECT event_type, hv,
              row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
            FROM h),
      km AS (SELECT event_type, count(*) FILTER (rn <= 256) AS kc,
               max(hv) FILTER (rn <= 256) AS hk, count(*) AS exact
             FROM r GROUP BY 1)
      SELECT event_type,
             round(CASE WHEN kc < 256 THEN CAST(kc AS DOUBLE)
                        ELSE 255 * 1000000007.0 / hk END, 6) AS kmv_estimate,
             CAST(exact AS BIGINT) AS exact_distinct
      FROM km"""

  private val row = new Declared.Family(readsMemos = true)

  val rows: Seq[Declared] = Seq(
    // C4-style span-level dedup with document reconstruction
    // span-level dedup: first occurrence (by doc_id*1e6+idx) of every
    // 4-word chunk survives; documents reassemble from survivors
    row("text_span_dedup", (s, d) => TextOps.spanDedup(s, d), """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      c AS (SELECT doc_id, unnest(list_transform(
              range(greatest(CAST(ceil(CAST(len(w) AS DOUBLE) / 4) AS BIGINT), 1)),
              i -> {'idx': i, 'chunk': array_to_string(w[i*4+1:i*4+4], ' ')}),
              recursive := true)
            FROM w),
      ck AS (SELECT doc_id, idx, chunk, doc_id * 1000000 + idx AS pk FROM c),
      f AS (SELECT chunk, min(pk) AS mk FROM ck GROUP BY chunk),
      kept AS (SELECT ck.doc_id, ck.idx, ck.chunk
               FROM ck JOIN f ON ck.chunk = f.chunk AND ck.pk = f.mk),
      ka AS (SELECT doc_id, count(*) AS n_kept,
                    string_agg(chunk, ' ' ORDER BY idx) AS clean_text
             FROM kept GROUP BY doc_id),
      tot AS (SELECT doc_id, count(*) AS n_spans FROM ck GROUP BY doc_id)
      SELECT d.doc_id, coalesce(ka.clean_text, '') AS clean_text,
             tot.n_spans, coalesce(ka.n_kept, 0) AS n_kept
      FROM documents d JOIN tot ON d.doc_id = tot.doc_id
      LEFT JOIN ka ON d.doc_id = ka.doc_id"""),

    // — text analysis (training-data pipeline ops) —
    row("text_tokens", TextOps.tokenCounts _, """
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe_tokens,
             CAST(length(text) AS INT) AS len_chars
      FROM documents"""),

    row("text_quality", TextOps.qualityScores _, qualityOracle),

    // the same per-row scoring PRODUCED BY the streaming engine at
    // ingestion time (stateless projection in the micro-batch) —
    // shares text_quality's oracle; completes the ingestion trio
    // (dedup, index, quality) executed by the streaming engine
    // per-row stateless scoring: the streamed twin shares the SAME
    // oracle string as text_quality (one val — the twins can never
    // silently diverge)
    row("text_quality_streamed",
      (s, d) => graft.streaming.CorpusStream.qualityScoresStreamed(s, d), qualityOracle),

    // per-language median gate: micro-unit medians broadcast back,
    // map-only keep/drop flags in exact long arithmetic
    // same raw-quality arithmetic scaled to micro-unit longs; the *2
    // trick keeps the even-count interpolated median exact (a+b)
    row("text_quality_gate", (s, d) => TextOps.qualityGate(s, d), """
      WITH q AS (
        SELECT doc_id, lang,
          len(w) AS n_words,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS w
              FROM documents)),
      s AS (SELECT doc_id, lang,
              CAST(round((least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                + least(n_words / 50.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS q6
            FROM q),
      m AS (SELECT lang,
              CAST(round(quantile_cont(q6, 0.5) * 2) AS BIGINT) AS med2
            FROM s GROUP BY 1)
      SELECT doc_id, lang, round(q6 / 1000000.0, 6) AS quality,
             (2 * q6 >= med2) AS kept
      FROM s JOIN m USING (lang)"""),

    // tokenizer health: per-doc OOV rate vs the deterministic
    // top-1000 corpus vocabulary (broadcast membership, no vocab sort)
    // same deterministic top-1000 vocabulary cut (freq desc, token asc)
    row("text_vocab_coverage", (s, d) => TextOps.vocabCoverage(s, d), """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                   FROM documents),
      v AS (SELECT t FROM (SELECT t, count(*) AS f FROM tok GROUP BY 1)
            ORDER BY f DESC, t ASC LIMIT 1000)
      SELECT doc_id, count(*) AS n_tokens,
             CAST(count(*) FILTER (tok.t NOT IN (SELECT t FROM v)) AS BIGINT)
               AS n_oov,
             round(CAST(count(*) FILTER (tok.t NOT IN (SELECT t FROM v))
               AS DOUBLE) / count(*), 6) AS oov_rate
      FROM tok GROUP BY 1"""),

    row("text_langid", TextOps.languageId _, """
      WITH s AS (
        SELECT doc_id,
          round(len(list_filter(w, t -> list_contains(['the','a','of','and','to'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_en,
          round(len(list_filter(w, t -> list_contains(['el','la','de','y','que'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_es,
          round(len(list_filter(w, t -> list_contains(['der','die','und','das','ist'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_de,
          round(len(list_filter(w, t -> list_contains(['le','la','de','et','les'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_fr
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      SELECT doc_id,
        CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
             WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang,
        s_en, s_es, s_de, s_fr
      FROM s"""),

    // n-gram langid trains profiles on the corpus: rows-only; accuracy
    // vs the ground-truth lang column is gated in TextOpsSpec
    // REAL SQL since r14 (was a generated literal at both tiers — the
    // classifier is fully relational): profiles = each language's 40
    // most doc-frequent DISTINCT char trigrams (ties gram asc) over
    // the labeled corpus; prediction = argmax profile overlap of the
    // doc's distinct trigram set (ties lang asc). Pure ASCII corpus,
    // so JVM code-unit and DuckDB code-point slicing agree; verified
    // equal to the engine at 500 (sf0.01) and 50,000 (sf1) docs.
    row("text_langid_ngram", (s, d) => TextOps.languageIdNgram(s, d), """
      WITH tg AS MATERIALIZED (
        SELECT doc_id, lang,
               list_distinct([text[i:i+2]
                              for i in range(1, length(text)-1)]) AS gs
        FROM documents),
      pg AS (SELECT lang, gram, count(*) AS n
             FROM (SELECT lang, unnest(gs) AS gram FROM tg) GROUP BY 1, 2),
      prof AS MATERIALIZED (SELECT lang, gram FROM (
               SELECT lang, gram,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY n DESC, gram) AS rk
               FROM pg) WHERE rk <= 40),
      dg AS (SELECT doc_id, unnest(gs) AS gram FROM tg),
      ov AS (SELECT dg.doc_id, p.lang, count(*) AS hits
             FROM dg JOIN prof p ON dg.gram = p.gram GROUP BY 1, 2),
      langs AS (SELECT DISTINCT lang FROM documents),
      scored AS (SELECT d.doc_id, l.lang, coalesce(o.hits, 0) AS hits
                 FROM (SELECT doc_id FROM documents) d
                 CROSS JOIN langs l
                 LEFT JOIN ov o ON o.doc_id = d.doc_id AND o.lang = l.lang)
      SELECT doc_id, lang AS pred_lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY hits DESC, lang) AS rk
        FROM scored) WHERE rk = 1"""),

    row("text_fingerprint", TextOps.fingerprints _, """
      WITH h AS (
        SELECT doc_id, text,
          list_transform(string_split(text, ' '), t ->
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
              (acc, c) -> (acc * 31 + c) % 1000000007)) AS wh
        FROM documents)
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
          (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_text,
        CASE WHEN len(wh) >= 5 THEN
          list_min([list_reduce(list_prepend(CAST(0 AS BIGINT), wh[i:i+4]),
            (acc, x) -> (acc * 131 + x) % 1000000007) for i in range(1, len(wh)-3)])
        ELSE NULL END AS fp_min_shingle
      FROM h"""),

    // redaction oracle generated from the SAME pattern constants the
    // Spark plan folds over (portable regex subset; DuckDB needs the
    // explicit 'g' flag for global replace)
    row("text_pii_scrub", TextOps.redact _, {
      def q(s: String) = "'" + s.replace("'", "''") + "'"
      val ps = TextOps.redactionPatterns
      val scrub = ps.foldLeft("text") { case (c, (pat, rep)) =>
        s"regexp_replace($c, ${q(pat)}, ${q(rep)}, 'g')"
      }
      s"""
      SELECT doc_id, $scrub AS scrubbed,
             CAST(len(regexp_extract_all(text, ${q(ps(0)._1)})) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(text, ${q(ps(1)._1)})) AS INT) AS n_phones,
             CAST(len(regexp_extract_all(text, ${q(ps(2)._1)})) AS INT) AS n_entities
      FROM documents"""
    }),

    // repetition: same gram counting, list-comprehension grams; ratios
    // computed on the same doubles and rounded once
    row("text_repetition", TextOps.repetitionScores _, """
      WITH g AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in range(1, len(w)-1)]
                    ELSE [] END AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      c AS (SELECT doc_id, len(grams) AS n_grams,
                   len(list_distinct(grams)) AS n_distinct,
                   CASE WHEN len(grams) > 0 THEN
                     list_max(list_transform(list_distinct(grams),
                       d -> len(list_filter(grams, x -> x = d))))
                   ELSE 0 END AS top_count
            FROM g)
      SELECT doc_id, CAST(n_grams AS INT) AS n_grams,
             CAST(n_distinct AS INT) AS n_distinct,
             CASE WHEN n_grams > 0
                  THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6)
                  ELSE 0.0 END AS dup_ratio,
             CASE WHEN n_grams > 0
                  THEN round(CAST(top_count AS DOUBLE) / n_grams, 6)
                  ELSE 0.0 END AS top_gram_share
      FROM c"""),

    // per-doc TextRank keywords: exact-integer PageRank over each
    // document's word co-occurrence graph, map-only at any scale
    // the identical integer random-walk recurrence, 3 unrolled
    // iterations over per-doc DISTINCT-neighbor adjacency
    row("text_textrank_keywords", (s, d) => TextOps.textrankKeywords(s, d), """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents),
      e0 AS (SELECT doc_id,
               unnest([w[i] for i in range(1, len(w))]) AS a,
               unnest([w[i+1] for i in range(1, len(w))]) AS b
             FROM d),
      e AS (SELECT DISTINCT doc_id, a, b FROM (
              SELECT doc_id, a, b FROM e0 WHERE a <> b
              UNION ALL
              SELECT doc_id, b AS a, a AS b FROM e0 WHERE a <> b)),
      v AS (SELECT DISTINCT doc_id, unnest(w) AS word FROM d),
      dg AS (SELECT doc_id, a AS word, CAST(count(*) AS BIGINT) AS deg
             FROM e GROUP BY 1, 2),
      s0 AS (SELECT v.doc_id, v.word,
               CAST(1000000 AS BIGINT) AS s, coalesce(dg.deg, 0) AS deg
             FROM v LEFT JOIN dg
               ON dg.doc_id = v.doc_id AND dg.word = v.word),
      s1 AS (SELECT p.doc_id, p.word, p.deg,
               CAST(150000 + (850 * coalesce(c.sc, 0)) // 1000 AS BIGINT)
                 AS s
             FROM s0 p LEFT JOIN (
               SELECT e.doc_id, e.a AS word, sum(q.s // q.deg) AS sc
               FROM e JOIN s0 q ON q.doc_id = e.doc_id AND q.word = e.b
               GROUP BY 1, 2) c
               ON c.doc_id = p.doc_id AND c.word = p.word),
      s2 AS (SELECT p.doc_id, p.word, p.deg,
               CAST(150000 + (850 * coalesce(c.sc, 0)) // 1000 AS BIGINT)
                 AS s
             FROM s1 p LEFT JOIN (
               SELECT e.doc_id, e.a AS word, sum(q.s // q.deg) AS sc
               FROM e JOIN s1 q ON q.doc_id = e.doc_id AND q.word = e.b
               GROUP BY 1, 2) c
               ON c.doc_id = p.doc_id AND c.word = p.word),
      s3 AS (SELECT p.doc_id, p.word,
               CAST(150000 + (850 * coalesce(c.sc, 0)) // 1000 AS BIGINT)
                 AS s
             FROM s2 p LEFT JOIN (
               SELECT e.doc_id, e.a AS word, sum(q.s // q.deg) AS sc
               FROM e JOIN s2 q ON q.doc_id = e.doc_id AND q.word = e.b
               GROUP BY 1, 2) c
               ON c.doc_id = p.doc_id AND c.word = p.word)
      SELECT doc_id, CAST(rk AS INT) AS rk, word AS keyword, s AS score
      FROM (SELECT doc_id, word, s,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY s DESC, word ASC) AS rk
            FROM s3)
      WHERE rk <= 3"""),

    // unigram-distribution diversity: TTR + Shannon word entropy
    // unigram entropy/TTR replay (identical whitespace tokenization)
    row("text_word_entropy", TextOps.wordEntropy _, """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents),
      c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
      n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                   count(*) AS types FROM c GROUP BY 1)
      SELECT doc_id, n AS n_tokens, CAST(types AS BIGINT) AS n_types,
             round(types / CAST(n AS DOUBLE), 6) AS ttr,
             round(-sum((c / CAST(n AS DOUBLE))
               * ln(c / CAST(n AS DOUBLE))), 6) AS entropy
      FROM c JOIN n USING (doc_id) GROUP BY doc_id, n, types"""),

    // rank-frequency OLS (Zipf) corpus-health diagnostic
    // identical ln-moment OLS over the same (freq desc, token) top-N
    row("text_zipf_fit", (s, d) => TextOps.zipfFit(s, d), """
      WITH f AS (SELECT w AS t, count(*) AS f
                 FROM (SELECT unnest(string_split(text, ' ')) AS w
                       FROM documents)
                 GROUP BY 1),
      r AS (SELECT f, row_number() OVER (ORDER BY f DESC, t) AS rk
            FROM f ORDER BY f DESC, t LIMIT 200),
      m AS (SELECT count(*) AS n, sum(ln(rk)) AS sx, sum(ln(f)) AS sy,
                   sum(ln(rk) * ln(rk)) AS sxx, sum(ln(rk) * ln(f)) AS sxy
            FROM r)
      SELECT CAST(n AS BIGINT) AS n_ranks,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
             round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
               / n, 6) AS intercept
      FROM m"""),

    row("text_decontaminate", (s, d) => TextOps.decontaminate(s, d), """
      WITH g AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                        for i in range(1, len(w)-1)])
                    ELSE [] END AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      bench AS (SELECT doc_id AS bench_id, unnest(grams) AS gram FROM g
                WHERE doc_id % 97 = 0),
      corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g
                 WHERE doc_id % 97 <> 0),
      shared AS (
        SELECT doc_id, max(n_shared) AS max_shared FROM (
          SELECT c.doc_id, b.bench_id, count(*) AS n_shared
          FROM corpus c JOIN bench b ON c.gram = b.gram
          GROUP BY 1, 2)
        GROUP BY 1)
      SELECT g.doc_id,
             CAST(coalesce(s.max_shared, 0) AS BIGINT) AS max_shared,
             coalesce(s.max_shared, 0) >= 5 AS contaminated
      FROM g LEFT JOIN shared s ON g.doc_id = s.doc_id
      WHERE g.doc_id % 97 <> 0"""),

    // the 100 TB variant: benchmark gram-set as ONE broadcast Bloom
    // filter, corpus flagged in a map-only scan (no shuffle, no gram
    // strings leave the partition); deterministic, so pinned by a
    // generated-literal oracle (GeneratedOracles), plus the spec-level
    // no-false-negative + fixture-exact flag-set gates
    row("text_decontaminate_bloom", (s, d) => TextOps.decontaminateBloom(s, d),
      GeneratedOracles.pins("text_decontaminate_bloom")),

    // the SEMANTIC decontamination leg: tiny benchmark embeddings
    // broadcast, corpus flagged by cosine in one map-only scan
    // semantic decontamination: the planted twins of every 50th vector
    // are the "benchmark"; same +0.01 / normalize-then-dot arithmetic
    row("text_decontaminate_embedding", (s, d) => Dedup.embeddingDecontaminate(s, d),
      """
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      p AS (SELECT vec_id + 100000 AS bench_id,
                   list_transform(v, x -> x + 0.01) AS v
            FROM e WHERE vec_id % 50 = 0),
      nb AS (SELECT bench_id,
                    list_transform(v, x -> x /
                      nullif(sqrt(list_sum(list_transform(v, y -> y*y))), 0)) AS nv
             FROM p),
      nc AS (SELECT vec_id,
                    list_transform(v, x -> x /
                      nullif(sqrt(list_sum(list_transform(v, y -> y*y))), 0)) AS nv
             FROM e)
      SELECT * FROM (
        SELECT c.vec_id, b.bench_id,
               round(greatest(
                 list_sum(list_transform(list_zip(c.nv, b.nv), z -> z[1]*z[2])),
                 0), 6) AS sim
        FROM nc c CROSS JOIN nb b)
      WHERE sim >= 0.9"""),

    // unigram-LM surprisal (the CCNet perplexity signal, corpus-trained)
    row("text_unigram_logprob", (s, d) => TextOps.unigramLogProb(s, d), """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents),
      freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM freq)
      SELECT doc_id, count(*) AS n_tokens,
             round(avg(-ln((c + 1.0) / (t + v))), 6) AS mean_nll
      FROM tok JOIN freq USING (w) CROSS JOIN tot
      GROUP BY doc_id"""),

    // SentencePiece-family unigram tokenizer training: substring seed
    // vocab re-estimated by fixed-round Viterbi EM in integer
    // nano-nat log-probs (deterministic; literal-oracle pinned, EM
    // replayed driver-side in the spec)
    row("text_unigram_tokenizer", (s, d) => TextOps.unigramVocab(s, d),
      GeneratedOracles.pins("text_unigram_tokenizer")),

    // per-doc token cost under the trained unigram tokenizer (the
    // bpe_encode twin): broadcast piece table, map-only Viterbi pass
    row("text_unigram_encode", (s, d) => TextOps.unigramEncode(s, d),
      GeneratedOracles.pins("text_unigram_encode")),

    // add-1 bigram LM: per-doc mean surprisal + perplexity
    // add-1 bigram LM replayed with positional list comprehensions
    row("text_bigram_perplexity", (s, d) => TextOps.bigramSurprisal(s, d), """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      pr AS (SELECT doc_id,
                    unnest([w[i] for i in range(1, len(w))]) AS w1,
                    unnest([w[i+1] for i in range(1, len(w))]) AS w2
             FROM d),
      cb AS (SELECT w1, w2, count(*) AS cb FROM pr GROUP BY 1, 2),
      cw AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw FROM cb GROUP BY 1),
      v AS (SELECT count(DISTINCT t) AS v
            FROM (SELECT unnest(w) AS t FROM d)),
      sc AS (SELECT doc_id, -ln((cb + 1.0) / (cw + v)) AS nll
             FROM pr JOIN cb USING (w1, w2) JOIN cw USING (w1) CROSS JOIN v)
      SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS mean_nll,
             round(exp(avg(nll)), 4) AS ppl
      FROM sc GROUP BY doc_id"""),

    // interpolated Kneser-Ney bigram LM (the KenLM smoothing): per-doc
    // mean surprisal + perplexity, D=0.75, all margins off the type table
    // interpolated Kneser-Ney replay: identical margin rollups off the
    // bigram-type table, identical left-assoc double arithmetic (D=0.75
    // is exact in binary, so both engines evaluate the same tree)
    row("text_kneser_ney", (s, d) => TextOps.kneserNeySurprisal(s, d), s"""$knChainSql
      SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS kn_mean_nll,
             round(exp(avg(nll)), 4) AS kn_ppl
      FROM sc GROUP BY doc_id"""),

    // TF-IDF top-3 terms per doc; window order total -> auto bounded heap
    row("text_tfidf_terms", (s, d) => TextOps.tfidfTopTerms(s, d), """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents),
      tf AS (SELECT doc_id, w AS term, count(*) AS c FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS dl FROM tf GROUP BY 1),
      dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      sc AS (SELECT t.doc_id, t.term,
                    round((CAST(c AS DOUBLE) / dl) * ln(nd / df), 6) AS score
             FROM tf t JOIN dl USING (doc_id) JOIN dft USING (term)
             CROSS JOIN n)
      SELECT doc_id, term, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term) AS INT) AS rk
      FROM sc QUALIFY rk <= 3"""),

    // inverted-index materialization: full df/cf stats + bounded-heap
    // capped posting segments (no unbounded per-term list)
    // inverted index: uncapped df/cf stats joined to the first
    // 16-entry posting segment per term (postings ordered by doc_id)
    row("text_inverted_index", (s, d) => TextOps.invertedIndex(s, d), """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents),
      tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
      stats AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                       CAST(sum(tf) AS BIGINT) AS cf
                FROM tf GROUP BY 1),
      capped AS (SELECT term, doc_id, tf,
                        row_number() OVER (PARTITION BY term
                          ORDER BY doc_id) AS rn
                 FROM tf),
      post AS (SELECT term,
                      string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id)
                        AS postings
               FROM capped WHERE rn <= 16 GROUP BY term)
      SELECT s.term, s.df, s.cf, p.postings
      FROM stats s JOIN post p USING (term) WHERE s.df >= 50"""),

    // positional-postings intersection for the 2-word phrase "table hash"
    // phrase search: each word's positions re-based to the phrase start,
    // legs intersect on (doc_id, start); docs have <= 100 words (the
    // range bound 128 is checked at generation time)
    row("text_phrase_search", (s, d) => TextOps.phraseSearch(s, d), """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      tok AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[CAST(i AS INT)] AS term
              FROM d, range(1, 128) t(i) WHERE i <= len(w)),
      l0 AS (SELECT doc_id, pos AS start FROM tok WHERE term = 'table'),
      l1 AS (SELECT doc_id, pos - 1 AS start FROM tok WHERE term = 'hash')
      SELECT doc_id, count(*) AS n_hits
      FROM l0 JOIN l1 USING (doc_id, start)
      GROUP BY 1"""),

    // BPE tokenizer training (iterative merge loop over the word-freq
    // table): rows-only — the trained merge table is pinned against a
    // reference driver-side trainer in TextOpsSpec
    // GENERATED-LITERAL oracles for the two deterministic BPE rows:
    // the algorithm is seeded and the sf0.01 fixture is frozen, so the
    // expected output is a constant. Independence from the engine comes
    // from TextOpsSpec's reference replay of the merge loop; this row
    // moves cross-run stability under the oracle hash gate. (Literal
    // is sf0.01-specific by the oracle contract - Verify always runs
    // at sf0.01.)
    row("text_bpe_vocab", (s, d) => TextOps.bpeVocab(s, d), """
      SELECT * FROM (VALUES (1,'e','r',4568), (2,'e','</w>',4473), (3,'n','</w>',2834), (4,'er','</w>',2779), (5,'o','w',2747), (6,'ow','</w>',2747), (7,'o','r',2696), (8,'s','t',2676), (9,'h','</w>',1884), (10,'a','t',1845)) AS t(step, "left", "right", pair_count)"""),

    // BM25: same operation order as the Spark plan; every constant cast
    // to DOUBLE so DuckDB never routes through decimal arithmetic
    row("text_bm25_topk", (s, d) => TextOps.bm25TopK(s, d), """
      WITH s AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
               CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf0,
               CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf1,
               CAST(len(list_filter(w, x -> x = 'scan')) AS BIGINT) AS tf2
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      g AS (SELECT count(*) AS n, sum(dl) AS sumdl,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM s),
      sc AS (
        SELECT doc_id, round(
            ln(CAST(1.0 AS DOUBLE) + (n - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE)))
              * CAST(tf0 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
              / (CAST(tf0 AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                 (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sumdl AS DOUBLE) / n)))
          + ln(CAST(1.0 AS DOUBLE) + (n - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE)))
              * CAST(tf1 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
              / (CAST(tf1 AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                 (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sumdl AS DOUBLE) / n)))
          + ln(CAST(1.0 AS DOUBLE) + (n - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE)))
              * CAST(tf2 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
              / (CAST(tf2 AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                 (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sumdl AS DOUBLE) / n)))
          , 6) AS score
        FROM s, g)
      SELECT doc_id, score FROM sc WHERE score > 0
      ORDER BY score DESC, doc_id ASC LIMIT 20"""),

    // PRF second-pass retrieval: top-r feedback docs expand the seed
    // query; expanded-score contributions quantize to micro-units
    // before the per-doc sum (order-free exact integers)
    // PRF: the feedback and expansion CTEs derive the SAME expanded
    // term set; contributions quantize to micro-units before the
    // per-doc sum, so the score is an exact integer in any order
    row("text_bm25_prf", (s, d) => TextOps.bm25PrfTopK(s, d), s"""
      WITH ${bm25Ctes(Seq("join", "vector", "stream"))},
      fb AS (SELECT doc_id FROM bm_sc WHERE score > 0
             ORDER BY score DESC, doc_id ASC LIMIT 5),
      ft AS (SELECT unnest(string_split(text, ' ')) AS term
             FROM documents JOIN fb USING (doc_id)),
      ex AS (SELECT term, count(*) AS c FROM ft
             WHERE term NOT IN ('join','vector','stream',
                                'the','a','of','and','to','in','on')
             GROUP BY 1 ORDER BY c DESC, term ASC LIMIT 3),
      terms AS (SELECT term FROM (VALUES ('join'), ('vector'), ('stream'))
                  s(term)
                UNION ALL SELECT term FROM ex),
      tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
      dl2 AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
              FROM documents),
      tf2 AS (SELECT doc_id, term, count(*) AS tf
              FROM tok JOIN terms USING (term) GROUP BY 1, 2),
      dft AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
      st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl2),
      ctb AS (SELECT doc_id, CAST(round(
                ln(CAST(1.0 AS DOUBLE) + (n - df + CAST(0.5 AS DOUBLE))
                   / (df + CAST(0.5 AS DOUBLE)))
                * CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                   (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl
                    / (CAST(sumdl AS DOUBLE) / n)))
                * 1000000.0) AS BIGINT) AS qc
              FROM tf2 JOIN dft USING (term) JOIN dl2 USING (doc_id)
              CROSS JOIN st)
      SELECT doc_id, CAST(sum(qc) AS BIGINT) AS score_micro
      FROM ctb GROUP BY 1 HAVING sum(qc) > 0
      ORDER BY score_micro DESC, doc_id ASC LIMIT 20"""),

    // arbitrary-term-list BM25 (exploded ⨝ broadcast-terms plan); the
    // oracle is generated for the same 8-term query below
    row("text_bm25_general", (s, d) => TextOps.bm25TopKGeneral(s, d),
      bm25Sql(TextOps.bm25GeneralTerms, 20)),

    // lexical + vector reciprocal-rank fusion over the same id space
    row("hybrid_rrf_topk", (s, d) => HybridSearch.rrfTopK(s, d),
      hybridRrfSql(TextOps.bm25GeneralTerms,
      k = 20, depth = 100, kRrf = 60)),

    // serving-side composition flagship: BM25 + vector retrieval ->
    // RRF fuse -> per-source diversity cap -> ranked answer, one plan
    // composed serving replay: the same fusion chain extended with the
    // source join, the per-source window cap, and the final ranked cut
    row("hybrid_end_to_end", (s, d) => HybridSearch.hybridEndToEnd(s, d),
      hybridEndToEndSql(TextOps.bm25GeneralTerms,
      k = 10, depth = 100, kRrf = 60, fuseK = 30, perSource = 2)),

    // MMR diversified re-rank of one query's candidate block: rows-only,
    // pinned in HybridSearchSpec (λ=1 degenerates to plain top-k)
    // REAL SQL since r14: the unrolled greedy replay (see
    // [[mmrOracleSql]]) — verified equal to the engine at both tiers
    row("hybrid_mmr_topk", (s, d) => HybridSearch.mmrTopK(s, d),
      mmrOracleSql(k = 10, depth = 50)),

    // k smallest distinct portable hashes -> same KMV estimate formula
    row("sketch_distinct_ngrams", (s, d) => TextOps.sketchDistinctNgrams(s, d), """
      WITH g AS (
        SELECT DISTINCT unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, len(w)-1)])) AS gram
        FROM (SELECT string_split(text, ' ') AS w FROM documents)),
      h AS (SELECT DISTINCT
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split(gram, ''), c -> CAST(unicode(c) AS BIGINT))),
                (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
            FROM g),
      km AS (SELECT count(*) AS kc, max(hv) AS hk
             FROM (SELECT hv FROM h ORDER BY hv LIMIT 256)),
      e AS (SELECT count(*) AS exact FROM h)
      SELECT round(CASE WHEN kc < 256 THEN CAST(kc AS DOUBLE)
                        ELSE 255 * 1000000007.0 / hk END, 6) AS kmv_estimate,
             exact AS exact_distinct
      FROM km, e"""),

    row("sketch_users_per_type", (s, d) => TextOps.sketchDistinctUsers(s, d),
      sketchUsersOracle),

    // KMV set algebra: pairwise cross-source vocab overlap off one scan
    // + |sources| mergeable sketches (vs the S^2 join); exact yardstick
    // full KMV set-algebra replay: per-source k-min sketches over the
    // same portable hashes, the pair's combined k-min list L, the
    // membership count m, and the identical rho * est(union) formula
    row("sketch_source_overlap", (s, d) => TextOps.kmvSourceOverlap(s, d), """
      WITH h AS (SELECT DISTINCT source,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split(t, ''),
                  c -> CAST(unicode(c) AS BIGINT))),
                (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
            FROM (SELECT source, unnest(string_split(text, ' ')) AS t
                  FROM documents)),
      r AS (SELECT source, hv,
              row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
            FROM h),
      sk AS (SELECT source, hv FROM r WHERE rn <= 256),
      srcs AS (SELECT DISTINCT source FROM documents),
      pr AS (SELECT a.source AS sa, b.source AS sb
             FROM srcs a JOIN srcs b ON a.source < b.source),
      u AS (SELECT sa, sb, hv,
              row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn
            FROM (SELECT DISTINCT pr.sa, pr.sb, s.hv
                  FROM pr JOIN sk s ON s.source = pr.sa OR s.source = pr.sb)),
      l AS (SELECT sa, sb, hv FROM u WHERE rn <= 256),
      mm AS (SELECT l.sa, l.sb, count(*) AS lsz,
               count(*) FILTER (ka.hv IS NOT NULL AND kb.hv IS NOT NULL) AS m,
               max(l.hv) AS hk
             FROM l LEFT JOIN sk ka ON ka.source = l.sa AND ka.hv = l.hv
                    LEFT JOIN sk kb ON kb.source = l.sb AND kb.hv = l.hv
             GROUP BY 1, 2),
      ex AS (SELECT a.source AS sa, b.source AS sb, count(*) AS exact_overlap
             FROM h a JOIN h b ON a.hv = b.hv AND a.source < b.source
             GROUP BY 1, 2)
      SELECT mm.sa AS source_a, mm.sb AS source_b,
             round(CAST(m AS DOUBLE) / lsz, 6) AS kmv_jaccard,
             round((CAST(m AS DOUBLE) / lsz) *
                   (CASE WHEN lsz < 256 THEN CAST(lsz AS DOUBLE)
                         ELSE 255 * 1000000007.0 / hk END), 6) AS kmv_overlap,
             COALESCE(ex.exact_overlap, 0) AS exact_overlap
      FROM mm LEFT JOIN ex ON ex.sa = mm.sa AND ex.sb = mm.sb"""),

    // the SAME sketch computed BY the streaming engine (k-long state
    // buffers merging across micro-batches); exact column batch-audited
    // the streamed sketch is bit-identical to the batch one (mergeable
    // buffers; complete-mode sink), so it replays the same oracle
    row("sketch_users_streamed",
      (s, d) => graft.streaming.EventStream.sketchUsersStreamed(s, d), sketchUsersOracle),

    // the same KMV Aggregator invoked from pure SQL (registered UDAF)
    // identical grouped-KMV replay (the UDAF resolves to the same
    // Aggregator, so the SQL surface shares the oracle)
    row("sql_sketch_users", (s, d) => TextOps.sqlSketchUsers(s, d), sketchUsersOracle),

    // HLL++ built-in sketch twin: engine-internal hash -> rows-only,
    // relative-error gated in TextOpsSpec
    row("sketch_users_hll", (s, d) => TextOps.hllDistinctUsers(s, d), """
      SELECT * FROM (VALUES ('click',150,150), ('error',150,150), ('purchase',150,150), ('signup',150,150), ('view',150,150)) AS t("event_type", "hll_estimate", "exact_distinct")"""),

    // Count-Min frequency sketch: one grid-shaped partial aggregate +
    // broadcast-probe scoring; estimates exact at the declared width
    row("sketch_heavy_hitters_cms", (s, d) => TextOps.cmsHeavyHitters(s, d),
      heavyHittersOracle),

    // the SAME CMS registers maintained by the streaming engine as one
    // global-aggregate state entry (mergeable-sketch family #2 under
    // the gate); estimates + exact yardstick derived batch-side after
    // streamed == batch: the CMS monoid makes the streamed registers
    // bit-identical, so the same collision-free-width oracle replays
    row("sketch_heavy_hitters_streamed",
      (s, d) => graft.streaming.EventStream.cmsHeavyHittersStreamed(s, d),
      heavyHittersOracle),

    // per-source exact-duplicate rate (curation signal)
    // 16-byte hash distinct per source; one division of exact counts
    row("text_dup_rate_by_source", TextOps.dupRateBySource _, """
      SELECT source, count(*) AS n_docs,
             count(DISTINCT md5(text)) AS n_unique,
             round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
                   / count(*), 6) AS dup_rate
      FROM documents GROUP BY 1"""),

    // strongest adjacent-word associations by micro-quantized PMI —
    // tokenizer-merge / boilerplate-phrase candidates
    // adjacent-pair PMI in integer micro-nats; unigram margins from
    // the same whitespace tokens, top-20 cut total-ordered
    row("text_pmi_collocations", (s, d) => TextOps.pmiCollocations(s, d), """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
      pairs AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM (
                  SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                  FROM tok)),
      cb AS (SELECT w1, w2, count(*) AS cab FROM pairs GROUP BY 1, 2),
      uni AS (SELECT unnest(w) AS t FROM tok),
      uc AS (SELECT t, count(*) AS c FROM uni GROUP BY 1),
      tot AS (SELECT CAST(sum(cab) AS BIGINT) AS nb FROM cb)
      SELECT w1 || ' ' || w2 AS ngram, cab AS n_pair,
             CAST(round(ln((CAST(cab AS DOUBLE) * nb) /
                           (CAST(a.c AS DOUBLE) * b.c)) * 1000000)
                  AS BIGINT) AS pmi_micro
      FROM cb JOIN uc a ON cb.w1 = a.t JOIN uc b ON cb.w2 = b.t
      CROSS JOIN tot
      WHERE cab >= 5
      ORDER BY pmi_micro DESC, ngram ASC
      LIMIT 20"""),

    // Gopher-style named rule report: each heuristic auditable on its
    // own (exact integer bounds), beside the blended quality score
    // integer rule replay: identical word-count / summed-length /
    // alpha-word / distinct-stopword bounds, cross-multiplied
    row("text_gopher_rules", (s, d) => TextOps.gopherRules(s, d), """
      WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w
                 FROM documents),
      f AS (SELECT doc_id,
              len(w) AS n,
              length(text) - (len(w) - 1) AS sum_len,
              len(list_filter(w, t -> regexp_matches(t, '[a-z]')))
                AS alpha_words,
              len(list_intersect(list_distinct(w),
                ['the','a','of','and','to','in','on'])) AS n_stops
            FROM d)
      SELECT doc_id, CAST(n AS BIGINT) AS n_words,
             n >= 20 AND n <= 1000 AS wc_ok,
             sum_len >= n * 3 AND sum_len <= n * 10 AS mwl_ok,
             alpha_words * 1000 >= n * 800 AS alpha_ok,
             n_stops >= 2 AS stop_ok,
             (n >= 20 AND n <= 1000) AND
               (sum_len >= n * 3 AND sum_len <= n * 10) AND
               (alpha_words * 1000 >= n * 800) AND (n_stops >= 2) AS pass
      FROM f"""),

    // corpus curation: per-source average quality (exact micro-units)
    // per-source mean of the SAME per-doc quality expression, summed
    // as exact integer micro-units (no float accumulation)
    row("text_quality_by_source", TextOps.qualityBySource _, """
      WITH q AS (
        SELECT source,
          CAST(round(round(
            least(len(list_filter(w, t -> list_contains(
                ['the','a','of','and','to','in','on'], t)))
              / CAST(len(w) AS DOUBLE) * 2.0, 1.0) * 0.4
            + length(regexp_replace(text, '[^a-z]', '', 'g'))
              / CAST(length(text) AS DOUBLE) * 0.3
            + least(len(w) / 50.0, 1.0) * 0.3, 6) * 1000000)
            AS BIGINT) AS qmicro
        FROM (SELECT source, text, string_split(text, ' ') AS w
              FROM documents))
      SELECT source, count(*) AS n_docs,
             round(CAST(sum(qmicro) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS avg_quality
      FROM q GROUP BY 1"""),

    // per-source quantile normalization (tie-averaged mid-rank over
    // the grid-bounded distinct-score cells; one division per row)
    // mid-rank quantile per (source, q6) cell: doubled-rank integers,
    // one division, rounded 6 — identical arithmetic to the Spark side
    row("text_quality_quantile_norm", (s, d) => TextOps.qualityQuantileNorm(s, d), """
      WITH q0 AS (
        SELECT doc_id, source,
          CAST(round((least(len(list_filter(w, t -> list_contains(
                ['the','a','of','and','to','in','on'], t)))
              / CAST(len(w) AS DOUBLE) * 2.0, 1.0) * 0.4
            + length(regexp_replace(text, '[^a-z]', '', 'g'))
              / CAST(length(text) AS DOUBLE) * 0.3
            + least(len(w) / 50.0, 1.0) * 0.3) * 1000000)
            AS BIGINT) AS q6
        FROM (SELECT doc_id, source, text, string_split(text, ' ') AS w
              FROM documents)),
      cells AS (SELECT source, q6, CAST(count(*) AS BIGINT) AS cnt
                FROM q0 GROUP BY 1, 2),
      ranked AS (SELECT source, q6, cnt,
                   coalesce(CAST(sum(cnt) OVER (PARTITION BY source
                     ORDER BY q6 ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING) AS BIGINT), 0) AS prev
                 FROM cells),
      ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             FROM q0 GROUP BY 1)
      SELECT q0.doc_id, q0.source,
             round(q0.q6 / 1000000.0, 6) AS quality,
             round(CAST(2 * r.prev + r.cnt + 1 AS DOUBLE)
               / CAST(2 * ns.n AS DOUBLE), 6) AS qnorm
      FROM q0 JOIN ranked r ON q0.source = r.source AND q0.q6 = r.q6
      JOIN ns ON q0.source = ns.source"""),

    // edit-distance similarity self-join over the token vocabulary
    // (FastSS deletion-neighborhood blocking equi-join, never cartesian)
    // UNBLOCKED brute-force pair set: equality proves the Spark side's
    // deletion-neighborhood blocking is lossless; DuckDB's levenshtein
    // is the same classic DP as Spark's built-in
    row("text_fuzzy_word_pairs", (s, d) => TextOps.fuzzyWordPairs(s, d), """
      WITH v AS (
        SELECT DISTINCT lower(w) AS w FROM (
          SELECT unnest(string_split(p_name, ' ')) AS w FROM part
          UNION ALL SELECT unnest(string_split(p_type, ' ')) FROM part
          UNION ALL SELECT n_name FROM nation
          UNION ALL SELECT r_name FROM region)
        WHERE length(w) > 0)
      SELECT a.w AS w1, b.w AS w2,
             CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
      FROM v a JOIN v b ON a.w < b.w
      WHERE levenshtein(a.w, b.w) <= 2"""),

    // prefix-blocked Jaro-Winkler linkage via the SQL-registered
    // custom codegen Expression (graft_jaro_winkler)
    // same candidate blocking (2-char prefix + length band), DuckDB's
    // native jaro_winkler_similarity (same standard definition: 0.7
    // boost threshold, 4-char prefix cap, p=0.1); both sides filter
    // on the ROUNDED value so a last-ulp difference cannot flip
    // membership at the threshold
    row("text_jaro_winkler_pairs", (s, d) => TextOps.jaroWinklerPairs(s, d), """
      WITH v AS (
        SELECT DISTINCT lower(w) AS w FROM (
          SELECT unnest(string_split(p_name, ' ')) AS w FROM part
          UNION ALL SELECT unnest(string_split(p_type, ' ')) FROM part
          UNION ALL SELECT n_name FROM nation
          UNION ALL SELECT r_name FROM region)
        WHERE length(w) >= 4)
      SELECT a.w AS w1, b.w AS w2,
             round(jaro_winkler_similarity(a.w, b.w), 6) AS jw
      FROM v a JOIN v b
        ON substr(a.w, 1, 2) = substr(b.w, 1, 2)
       AND a.w < b.w
       AND abs(length(a.w) - length(b.w)) <= 2
      WHERE round(jaro_winkler_similarity(a.w, b.w), 6) >= 0.92"""),

    // custom Catalyst Generator (UDTF) from pure SQL: LATERAL VIEW
    // graft_word_ngrams(text, 2)
    // the generator's sliding bigrams replayed via list slicing
    row("text_word_ngrams", (s, d) => TextOps.wordNgramsSql(s, d), """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents),
      g AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w
            FROM t)
      SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(w[i:i+1], ' ') AS ngram
      FROM g"""),

    // connected components of the fuzzy-pair graph (entity resolution)
    // components via a RECURSIVE transitive closure (UNION set
    // semantics terminate it): rep = min label reachable over the
    // symmetric edge set — exact for ANY component diameter, unlike a
    // fixed round count, which would silently diverge from the
    // engine's fixpoint union-find on a fixture with a longer chain
    row("text_typo_clusters", (s, d) => TextOps.typoClusters(s, d), """
      WITH RECURSIVE v AS (SELECT DISTINCT lower(w) AS w FROM (
          SELECT unnest(string_split(p_name, ' ')) AS w FROM part
          UNION ALL SELECT unnest(string_split(p_type, ' ')) FROM part
          UNION ALL SELECT n_name FROM nation
          UNION ALL SELECT r_name FROM region)
        WHERE length(w) > 0),
      p AS (SELECT a.w AS w1, b.w AS w2 FROM v a JOIN v b ON a.w < b.w
            WHERE levenshtein(a.w, b.w) <= 2),
      e AS (SELECT w1 AS a, w2 AS b FROM p
            UNION ALL SELECT w2, w1 FROM p),
      reach(node, lbl) AS (
        SELECT w, w FROM v
        UNION
        SELECT e.b, reach.lbl FROM e JOIN reach ON reach.node = e.a)
      SELECT node AS w, min(lbl) AS rep_w FROM reach GROUP BY node"""),

    // RAG chunking: overlapping word windows, map-only
    // identical start/size arithmetic over DuckDB list slicing
    row("text_chunking", (s, d) => TextOps.chunkDocuments(s, d), """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents),
      k AS (SELECT doc_id, w,
                   CAST(ceil(CAST(greatest(len(w) - 10, 1) AS DOUBLE)
                             / 40.0) AS INT) AS k
            FROM t),
      g AS (SELECT doc_id, w,
                   unnest(generate_series(0, k - 1)) AS i FROM k)
      SELECT doc_id, CAST(i + 1 AS INT) AS chunk_idx,
             CAST(len(w[i*40+1:i*40+50]) AS INT) AS n_tokens,
             array_to_string(w[i*40+1:i*40+50], ' ') AS chunk_text
      FROM g"""),

    // Dirichlet query-likelihood retrieval (micro-nat-quantized term
    // contributions, 1-row stats attach, TakeOrdered)
    // Dirichlet query likelihood: per-term log-contribution quantized
    // to integer micro-nats BEFORE the per-doc sum; one final division
    row("text_qlm_topk", (s, d) => TextOps.queryLikelihoodTopK(s, d), """
      WITH s AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
               CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf0,
               CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf1,
               CAST(len(list_filter(w, x -> x = 'scan')) AS BIGINT) AS tf2
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      g AS (SELECT CAST(sum(dl) AS BIGINT) AS ctot,
                   CAST(sum(tf0) AS BIGINT) AS cf0,
                   CAST(sum(tf1) AS BIGINT) AS cf1,
                   CAST(sum(tf2) AS BIGINT) AS cf2
            FROM s),
      sc AS (
        SELECT doc_id,
          CAST(round(ln((CAST(tf0 AS DOUBLE)
              + CAST(2000.0 AS DOUBLE) * CAST(cf0 AS DOUBLE) / CAST(ctot AS DOUBLE))
              / (CAST(dl AS DOUBLE) + CAST(2000.0 AS DOUBLE))) * 1000000) AS BIGINT)
          + CAST(round(ln((CAST(tf1 AS DOUBLE)
              + CAST(2000.0 AS DOUBLE) * CAST(cf1 AS DOUBLE) / CAST(ctot AS DOUBLE))
              / (CAST(dl AS DOUBLE) + CAST(2000.0 AS DOUBLE))) * 1000000) AS BIGINT)
          + CAST(round(ln((CAST(tf2 AS DOUBLE)
              + CAST(2000.0 AS DOUBLE) * CAST(cf2 AS DOUBLE) / CAST(ctot AS DOUBLE))
              / (CAST(dl AS DOUBLE) + CAST(2000.0 AS DOUBLE))) * 1000000) AS BIGINT)
            AS c6
        FROM s, g)
      SELECT doc_id, round(c6 / 1000000.0, 6) AS score
      FROM sc ORDER BY score DESC, doc_id ASC LIMIT 20"""),

    // per-doc top-3 TF-IDF keywords through the bounded heap
    // same (doc, term) tf/df rollups; per-score micro-quantization
    // BEFORE the rank; ties on term asc
    row("text_keywords_per_doc", (s, d) => TextOps.keywordsPerDoc(s, d), """
      WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      ft AS (SELECT doc_id, term FROM terms
             WHERE NOT list_contains(['the','a','of','and','to','in','on'], term)
               AND length(term) >= 2),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM ft GROUP BY 1, 2),
      df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             FROM tf GROUP BY 1 HAVING count(*) >= 2),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.term,
               CAST(round(CAST(tf.tf AS DOUBLE)
                 * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
                 * 1000000) AS BIGINT) AS score6
             FROM tf JOIN df USING (term) CROSS JOIN n),
      rk AS (SELECT doc_id, term, score6,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score6 DESC, term ASC) AS INT) AS rk
             FROM sc)
      SELECT doc_id, term, round(score6 / 1000000.0, 6) AS score, rk
      FROM rk WHERE rk <= 3"""),

    // Church-Gale burstiness (variance-to-mean of per-doc counts):
    // exact integer moments, one final division
    // exact integer moments (N*s2 - cf^2)/(N*cf); one division
    row("text_term_burstiness", (s, d) => TextOps.termBurstiness(s, d), """
      WITH tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE NOT list_contains(['the','a','of','and','to','in','on'], term)
          AND length(term) >= 2
        GROUP BY 1, 2),
      bt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf,
                    CAST(sum(tf * tf) AS BIGINT) AS s2,
                    CAST(count(*) AS BIGINT) AS df
             FROM tf GROUP BY 1),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
      SELECT term, cf, df,
             round(CAST(n_docs * s2 - cf * cf AS DOUBLE)
               / CAST(n_docs * cf AS DOUBLE), 6) AS vmr
      FROM bt CROSS JOIN n
      ORDER BY cf DESC, term ASC LIMIT 30"""),

    // langid confusion matrix vs the fixture's true labels — pure
    // integers, permille via integer div
    row("text_langid_confusion", (s, d) => TextOps.langIdConfusion(s, d), """
      WITH s AS (
        SELECT doc_id,
          round(len(list_filter(w, t -> list_contains(['the','a','of','and','to'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_en,
          round(len(list_filter(w, t -> list_contains(['el','la','de','y','que'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_es,
          round(len(list_filter(w, t -> list_contains(['der','die','und','das','ist'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_de,
          round(len(list_filter(w, t -> list_contains(['le','la','de','et','les'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_fr
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      p AS (SELECT doc_id,
              CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                   WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                   WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang
            FROM s),
      cells AS (SELECT d.lang AS true_lang, p.pred_lang,
                  CAST(count(*) AS BIGINT) AS n
                FROM documents d JOIN p USING (doc_id)
                GROUP BY 1, 2)
      SELECT true_lang, pred_lang, n,
             CAST(n * 1000 // sum(n) OVER (PARTITION BY true_lang)
               AS BIGINT) AS permille
      FROM cells"""),

    // TRAINED multinomial NB langid: add-one likelihoods in integer
    // micro-nats on the 80% split, held-out confusion matrix
    // same stopword-profile prediction CTE joined to the true labels;
    // integer counts, permille via integer div
    // NB replay: same 80/20 split, same dense vocab x class micro-nat
    // grid, same integer posterior sums, same lexicographic tie rule
    row("text_naive_bayes_langid", (s, d) => TextOps.naiveBayesLangid(s, d), """
      WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w
                 FROM documents),
      tr AS (SELECT lang, unnest(w) AS word FROM d WHERE doc_id % 5 <> 4),
      tf AS (SELECT word, lang, count(*) AS tf FROM tr GROUP BY 1, 2),
      ct AS (SELECT lang, count(*) AS tot FROM tr GROUP BY 1),
      nd AS (SELECT lang, count(*) AS nd FROM d
             WHERE doc_id % 5 <> 4 GROUP BY 1),
      nt AS (SELECT count(*) AS n FROM d WHERE doc_id % 5 <> 4),
      vv AS (SELECT count(DISTINCT word) AS v FROM tr),
      cls AS (SELECT ct.lang AS c,
                CAST(round(ln(CAST(nd.nd AS DOUBLE) / n) * 1000000.0)
                  AS BIGINT) AS prior_q,
                CAST(round(ln(CAST(1.0 AS DOUBLE) / (ct.tot + v))
                  * 1000000.0) AS BIGINT) AS unseen_q,
                ct.tot AS tot, v
              FROM ct JOIN nd USING (lang) CROSS JOIN nt CROSS JOIN vv),
      grid AS (SELECT vw.word AS mword, cls.c AS mlang,
                 CAST(round(ln((coalesce(tf.tf, 0) + CAST(1.0 AS DOUBLE))
                   / (cls.tot + cls.v)) * 1000000.0) AS BIGINT) AS qll
               FROM (SELECT DISTINCT word FROM tr) vw
               CROSS JOIN cls
               LEFT JOIN tf ON tf.word = vw.word AND tf.lang = cls.c),
      te AS (SELECT doc_id, lang, word, count(*) AS cnt
             FROM (SELECT doc_id, lang, unnest(w) AS word FROM d
                   WHERE doc_id % 5 = 4)
             GROUP BY 1, 2, 3),
      sc AS (SELECT te.doc_id, te.lang, cls.c,
               any_value(cls.prior_q)
                 + sum(te.cnt * coalesce(g.qll, cls.unseen_q)) AS score
             FROM te CROSS JOIN cls
             LEFT JOIN grid g ON g.mword = te.word AND g.mlang = cls.c
             GROUP BY 1, 2, 3),
      pr AS (SELECT doc_id, lang, c,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, c ASC) AS rk
             FROM sc)
      SELECT lang, c AS pred_lang, count(*) AS n
      FROM pr WHERE rk = 1 GROUP BY 1, 2"""),

    // cross-doc sliding 5-gram boilerplate mining: linear explode +
    // one span-keyed rollup, total-ordered top 20
    // sliding 5-word windows (list comprehension), span-keyed rollup,
    // total-ordered top 20
    row("text_repeated_spans", (s, d) => TextOps.repeatedSpans(s, d), """
      WITH sp AS (
        SELECT doc_id,
               unnest([array_to_string(w[i:i+4], ' ')
                       for i in range(1, len(w) - 3)]) AS span
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        WHERE len(w) >= 5)
      SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM sp GROUP BY span
      HAVING count(DISTINCT doc_id) >= 2
      ORDER BY n_docs DESC, n_occurrences DESC, span ASC LIMIT 20"""),

    // tokenizer lifecycle part 2: ENCODE with the trained merge table
    // (greedy lowest-rank merging; map-only, table broadcast) — BPE is
    // not SQL-expressible -> rows-only, TextOpsSpec pins a reference
    // encoder replay
    row("text_bpe_encode", (s, d) => TextOps.bpeEncode(s, d), """
      SELECT * FROM (VALUES (0,32,130), (1,72,330), (2,45,201), (3,27,122), (4,45,202), (5,56,262), (6,15,65), (7,72,310), (8,84,380), (9,74,314), (10,39,182), (11,58,251), (12,65,273), (13,60,281), (14,87,410), (15,41,185), (16,16,72), (17,77,341), (18,75,334), (19,11,48), (20,68,308), (21,37,164), (22,81,386), (23,30,133), (24,97,433), (25,94,406), (26,12,56), (27,64,287), (28,60,272), (29,34,156), (30,31,132), (31,43,204), (32,93,414), (33,46,196), (34,29,126), (35,85,360), (36,22,105), (37,69,297), (38,36,163), (39,23,101), (40,73,336), (41,61,274), (42,56,243), (43,28,127), (44,24,99), (45,80,350), (46,86,400), (47,41,181), (48,30,128), (49,46,212), (50,45,202), (51,58,258), (52,13,58), (53,34,156), (54,65,289), (55,37,151), (56,97,443), (57,83,358), (58,72,322), (59,24,98), (60,93,403), (61,59,250), (62,72,317), (63,96,424), (64,25,105), (65,19,78), (66,62,278), (67,61,276), (68,33,147), (69,57,242), (70,94,417), (71,60,273), (72,42,187), (73,93,396), (74,10,41), (75,60,252), (76,71,313), (77,57,258), (78,42,180), (79,12,54), (80,32,139), (81,63,285), (82,47,203), (83,15,69), (84,72,333), (85,31,127), (86,23,107), (87,23,102), (88,51,232), (89,27,122), (90,24,90), (91,77,344), (92,26,116), (93,25,109), (94,24,110), (95,55,236), (96,81,370), (97,59,268), (98,93,426), (99,38,157), (100,83,372), (101,42,182), (102,91,419), (103,93,421), (104,44,197), (105,60,268), (106,13,56), (107,40,176), (108,16,72), (109,70,321), (110,11,45), (111,94,442), (112,58,247), (113,79,343), (114,36,162), (115,24,107), (116,10,49), (117,47,198), (118,70,321), (119,16,71), (120,37,177), (121,30,132), (122,19,84), (123,28,123), (124,60,254), (125,34,151), (126,90,397), (127,83,359), (128,81,355), (129,81,359), (130,29,122), (131,54,230), (132,62,274), (133,94,402), (134,24,106), (135,97,436), (136,63,279), (137,43,188), (138,66,294), (139,56,247), (140,28,131), (141,75,351), (142,95,402), (143,72,344), (144,18,74), (145,72,320), (146,22,105), (147,84,356), (148,37,159), (149,27,121), (150,48,216), (151,94,422), (152,39,177), (153,78,359), (154,83,356), (155,67,290), (156,21,97), (157,17,73), (158,17,86), (159,69,312), (160,44,189), (161,86,377), (162,82,358), (163,45,202), (164,19,90), (165,21,89), (166,61,259), (167,85,385), (168,40,175), (169,69,318), (170,22,99), (171,61,267), (172,20,89), (173,97,438), (174,57,257), (175,29,129), (176,88,393), (177,49,209), (178,38,173), (179,87,389), (180,32,149), (181,19,89), (182,64,282), (183,20,80), (184,80,355), (185,58,246), (186,80,325), (187,91,393), (188,47,203), (189,37,174), (190,78,345), (191,21,96), (192,26,108), (193,31,136), (194,29,127), (195,58,264), (196,59,261), (197,95,418), (198,47,209), (199,30,127), (200,53,243), (201,56,251), (202,91,389), (203,24,101), (204,21,96), (205,69,297), (206,25,104), (207,73,317), (208,22,90), (209,44,182), (210,94,412), (211,51,225), (212,43,208), (213,88,386), (214,13,56), (215,98,405), (216,92,431), (217,66,287), (218,81,382), (219,29,138), (220,99,439), (221,42,176), (222,51,225), (223,85,383), (224,77,351), (225,76,342), (226,20,94), (227,81,374), (228,86,381), (229,74,339), (230,55,247), (231,27,121), (232,58,255), (233,83,376), (234,66,281), (235,39,186), (236,12,54), (237,79,332), (238,48,208), (239,30,130), (240,70,313), (241,92,417), (242,69,302), (243,33,141), (244,67,300), (245,83,376), (246,34,143), (247,80,339), (248,79,355), (249,82,341), (250,44,197), (251,94,421), (252,46,199), (253,38,159), (254,19,85), (255,28,121), (256,11,52), (257,21,92), (258,74,330), (259,45,215), (260,26,107), (261,84,376), (262,47,209), (263,83,366), (264,99,437), (265,47,224), (266,41,176), (267,78,342), (268,39,177), (269,86,372), (270,93,403), (271,53,243), (272,92,398), (273,28,136), (274,96,433), (275,10,37), (276,96,433), (277,32,140), (278,72,314), (279,51,221), (280,88,383), (281,30,131), (282,32,150), (283,84,379), (284,51,231), (285,94,417), (286,46,210), (287,18,86), (288,32,148), (289,38,181), (290,94,430), (291,76,343), (292,86,366), (293,71,318), (294,83,368), (295,32,147), (296,66,290), (297,62,266), (298,32,155), (299,94,401), (300,39,170), (301,93,413), (302,88,396), (303,83,363), (304,42,179), (305,11,52), (306,75,340), (307,54,243), (308,17,78), (309,44,189), (310,27,122), (311,90,405), (312,67,303), (313,18,71), (314,37,154), (315,87,369), (316,74,332), (317,72,318), (318,83,359), (319,87,408), (320,75,316), (321,50,236), (322,45,206), (323,62,263), (324,43,181), (325,60,266), (326,36,161), (327,33,143), (328,89,397), (329,66,284), (330,59,253), (331,51,242), (332,36,173), (333,32,142), (334,92,388), (335,61,267), (336,68,305), (337,43,201), (338,18,72), (339,32,150), (340,44,195), (341,80,337), (342,21,100), (343,29,120), (344,77,342), (345,59,254), (346,74,322), (347,51,227), (348,24,107), (349,84,365), (350,85,381), (351,67,298), (352,97,429), (353,59,251), (354,76,338), (355,61,287), (356,67,303), (357,47,212), (358,11,48), (359,60,268), (360,79,365), (361,65,297), (362,15,68), (363,64,281), (364,47,214), (365,12,54), (366,55,249), (367,39,168), (368,13,64), (369,50,221), (370,41,198), (371,65,283), (372,28,112), (373,70,307), (374,31,143), (375,63,267), (376,69,291), (377,43,191), (378,64,268), (379,72,316), (380,80,358), (381,63,279), (382,25,102), (383,44,208), (384,17,79), (385,70,306), (386,88,375), (387,39,172), (388,63,275), (389,28,126), (390,26,114), (391,43,188), (392,23,106), (393,81,371), (394,71,320), (395,81,381), (396,44,207), (397,53,238), (398,19,85), (399,57,251), (400,25,106), (401,76,350), (402,31,129), (403,85,374), (404,43,182), (405,56,252), (406,83,364), (407,20,88), (408,16,72), (409,53,231), (410,75,326), (411,79,332), (412,71,291), (413,79,346), (414,78,336), (415,58,255), (416,53,228), (417,93,411), (418,77,356), (419,20,92), (420,80,367), (421,83,363), (422,66,290), (423,65,300), (424,73,328), (425,24,109), (426,82,364), (427,79,350), (428,48,225), (429,95,446), (430,72,326), (431,56,243), (432,65,300), (433,31,142), (434,79,341), (435,31,135), (436,51,218), (437,81,354), (438,31,140), (439,33,150), (440,42,192), (441,99,439), (442,84,373), (443,51,218), (444,75,336), (445,58,252), (446,25,103), (447,93,413), (448,54,235), (449,33,140), (450,25,112), (451,20,90), (452,65,285), (453,97,415), (454,28,125), (455,11,52), (456,23,103), (457,37,165), (458,59,262), (459,69,310), (460,49,208), (461,67,292), (462,60,266), (463,91,404), (464,35,159), (465,62,261), (466,86,375), (467,66,291), (468,39,167), (469,10,46), (470,42,191), (471,63,280), (472,38,173), (473,53,240), (474,67,285), (475,15,67), (476,16,74), (477,28,120), (478,50,235), (479,69,304), (480,64,293), (481,16,72), (482,30,124), (483,47,206), (484,43,185), (485,23,106), (486,32,139), (487,59,264), (488,36,172), (489,57,260), (490,50,226), (491,67,289), (492,13,64), (493,88,367), (494,38,167), (495,70,313), (496,81,372), (497,20,94), (498,89,397), (499,33,143)) AS t(doc_id, n_words, n_bpe_tokens)"""),

    // token economics of the three tokenizers (whitespace/BPE/unigram)
    // off the memoized encode relations; literal-pinned
    row("text_tokenizer_fertility", (s, d) => TextOps.tokenizerFertility(s, d),
      GeneratedOracles.pins("text_tokenizer_fertility")),
  )
}
