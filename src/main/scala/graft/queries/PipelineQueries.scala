package graft
package queries

import graft.operators.Pipeline
import OracleSql.{cosDistSql, knChainSql}

/** Curation pipeline rows and the quality-classifier evaluations
  * (`pipeline_`, `eval_*classifier`, `eval_auc_by_lang`,
  * `eval_isotonic_calibration`).
  */
object PipelineQueries {

  /** The end-to-end curation pipeline as one chained CTE — shared by
    * `pipeline_end_to_end` (per-doc manifest) and its shard rollup.
    * Stages mirror [[graft.operators.Pipeline.endToEndCuration]]
    * exactly: exact dedup (min doc_id per md5), the dedup_keep_best
    * recursive near-dup cluster chain restricted to exact survivors,
    * the per-lang doubled-median quality gate over the DEDUPED corpus,
    * whitespace token counts, rank + exclusive token prefix sum over
    * (q6 desc, doc_id), and integer seq/shard arithmetic (budget 512
    * tokens/seq, 32 seqs/shard).
    */
  private def endToEndOracleSql: String = """
      WITH RECURSIVE
      ex AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      g AS (SELECT doc_id,
              list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, len(w)-1)]) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      e AS (SELECT doc_id, len(grams) AS ng, unnest(grams) AS gram FROM g),
      p AS (SELECT doc_a, doc_b FROM (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared,
                     max(a.ng) AS na, max(b.ng) AS nb
              FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            WHERE round(shared / (na + nb - shared), 6) >= 0.8),
      ed AS (SELECT doc_a AS s, doc_b AS d FROM p
             UNION SELECT doc_b, doc_a FROM p),
      reach(s, d) AS (
        SELECT s, d FROM ed
        UNION
        SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
      m AS (SELECT s, min(d) AS mn FROM reach GROUP BY s),
      cl AS (SELECT doc.doc_id,
                    least(doc.doc_id, coalesce(m.mn, doc.doc_id)) AS rep_id
             FROM documents doc LEFT JOIN m ON doc.doc_id = m.s),
      sv AS (SELECT cl.rep_id, cl.doc_id, d.n_chars
             FROM cl JOIN ex ON cl.doc_id = ex.doc_id
             JOIN documents d ON cl.doc_id = d.doc_id),
      kb AS (SELECT doc_id, row_number() OVER (PARTITION BY rep_id
               ORDER BY n_chars DESC, doc_id ASC) AS rn FROM sv),
      q0 AS (SELECT d.doc_id, d.lang,
               len(w) AS n_words,
               len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
               length(regexp_replace(d.text, '[^a-z]', '', 'g')) / CAST(length(d.text) AS DOUBLE) AS alpha_raw
             FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS w
                   FROM documents) d
             JOIN kb ON d.doc_id = kb.doc_id AND kb.rn = 1),
      s2 AS (SELECT doc_id, lang,
               CAST(round((least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                 + least(n_words / 50.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS q6,
               CAST(n_words AS BIGINT) AS n_tok
             FROM q0),
      md AS (SELECT lang,
               CAST(round(quantile_cont(q6, 0.5) * 2) AS BIGINT) AS med2
             FROM s2 GROUP BY 1),
      gt AS (SELECT s2.doc_id, s2.lang, s2.q6, s2.n_tok
             FROM s2 JOIN md USING (lang) WHERE 2 * q6 >= med2),
      rk AS (SELECT doc_id, lang, q6, n_tok,
               CAST(row_number() OVER (ORDER BY q6 DESC, doc_id ASC)
                 AS BIGINT) AS curriculum_rank,
               coalesce(CAST(sum(n_tok) OVER (ORDER BY q6 DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS start_tok
             FROM gt)
      SELECT doc_id, lang, round(q6 / 1000000.0, 6) AS quality, n_tok,
             curriculum_rank, start_tok,
             start_tok // 512 AS start_seq,
             (start_tok + n_tok - 1) // 512 AS end_seq,
             (start_tok // 512) // 32 AS shard
      FROM rk"""

  /** Generated DuckDB replay of [[graft.operators.Pipeline.qualityClassifier]]:
    * one `g_i`/`w_i` CTE pair per GD round. Every per-row gradient term is
    * quantized to integer millionths before its sum, so the chain is exactly
    * reproducible from the features regardless of aggregation order; the
    * weight update `w - lr*(g/1e6)/n` is the same left-associated double
    * expression both engines evaluate. `lr` is spliced as text so the SQL
    * literal matches the Scala double bit-for-bit.
    */
  private def qcOracleSql(iters: Int, lr: String): String =
    qcChain(iters, lr) + s""",
      acc AS (SELECT round(CAST(sum(CASE WHEN
                (($qcDot) >= 0.0) = (y = 1.0)
                THEN 1 ELSE 0 END) AS DOUBLE) / any_value(n), 6) AS ta
              FROM f, w$iters, nn)
      SELECT 'w0' AS term, round(a, 6) AS value FROM w$iters
      UNION ALL SELECT 'w1', round(b, 6) FROM w$iters
      UNION ALL SELECT 'w2', round(c, 6) FROM w$iters
      UNION ALL SELECT 'w3', round(d, 6) FROM w$iters
      UNION ALL SELECT 'w4', round(e, 6) FROM w$iters
      UNION ALL SELECT 'train_acc', ta FROM acc"""

  /** k-center coreset oracle: the identical greedy farthest-point
    * rounds as a generated chained CTE — per round one argmax pick
    * (quantized distance desc, vec_id asc) and one incremental
    * least(running-min, dist-to-new-center) update, the exact fold
    * [[graft.operators.Pipeline.kCenterCoreset]] computes.
    */
  private def kcenterOracleSql(k: Int): String = {
    def dist(p: String, c: String) =
      s"round(1 - greatest(list_sum(list_transform(list_zip($p.nv, $c.nv), z -> z[1]*z[2])), 0), 6)"
    val rounds = (2 until k).map { t =>
      s"""p$t AS (SELECT vec_id, md FROM md${t - 1}
              ORDER BY md DESC, vec_id ASC LIMIT 1),
      d$t AS (SELECT p.vec_id, ${dist("p", "c")} AS d
              FROM n p JOIN n c ON c.vec_id = (SELECT vec_id FROM p$t)),
      md$t AS (SELECT m.vec_id, least(m.md, d.d) AS md
               FROM md${t - 1} m JOIN d$t d USING (vec_id))"""
    }.mkString(",\n      ")
    val lastPick = s"""p$k AS (SELECT vec_id, md FROM md${k - 1}
              ORDER BY md DESC, vec_id ASC LIMIT 1)"""
    val picks = (2 to k).map(t =>
      s"UNION ALL SELECT CAST($t AS BIGINT), vec_id, md FROM p$t")
      .mkString("\n      ")
    s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      n AS (SELECT vec_id,
                   list_transform(v, x -> x /
                     nullif(sqrt(list_sum(list_transform(v, y -> y*y))), 0)) AS nv
            FROM e),
      c1 AS (SELECT min(vec_id) AS vec_id FROM n),
      md1 AS (SELECT p.vec_id, ${dist("p", "c")} AS md
              FROM n p JOIN n c ON c.vec_id = (SELECT vec_id FROM c1)),
      $rounds,
      $lastPick
      SELECT CAST(1 AS BIGINT) AS pick_round,
             (SELECT vec_id FROM c1) AS vec_id,
             CAST(0.0 AS DOUBLE) AS radius
      $picks"""
  }

  /** The identical fixed-width score binning as
    * `Pipeline.binnedScores`: millionth-quantized scores (HALF_UP round
    * then truncating BIGINT cast, the calibration discipline) bucketed
    * by `(q−qmin)·1024 // (qmax−qmin+1)` — truncating integer division
    * on non-negative operands, matching Spark's `DIV`.
    */
  private def qcBinnedSql(iters: Int, lr: String, bins: Int = 1024): String =
    qcChain(iters, lr) + s""",
      scored AS (SELECT y,
                   CAST(round(($qcDot) * 1000000.0, 0) AS BIGINT) AS q
                 FROM f, w$iters),
      ext AS (SELECT min(q) AS qmin, max(q) AS qmax FROM scored),
      binned AS (SELECT y,
                   CAST(((q - qmin) * CAST($bins AS BIGINT))
                     // (qmax - qmin + 1) AS BIGINT) AS bin
                 FROM scored, ext)"""

  /** Grouped tie-aware Mann–Whitney AUC over the binned scorer —
    * integer until the single final division, like the Spark side;
    * tie groups are the fixed-width buckets, so the window input is
    * ≤ 1024 rows at any corpus size.
    */
  private def qcAucSql(iters: Int, lr: String): String =
    qcBinnedSql(iters, lr) + s""",
      bys AS (SELECT bin,
                sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS np,
                sum(CASE WHEN y <> 1.0 THEN 1 ELSE 0 END) AS nn
              FROM binned GROUP BY bin),
      cum AS (SELECT np, nn,
                coalesce(sum(nn) OVER (ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
              FROM bys)
      SELECT CAST(sum(np) AS BIGINT) AS np, CAST(sum(nn) AS BIGINT) AS nn,
             round(CAST(sum(np * (2 * cnb + nn)) AS DOUBLE)
               / (2.0 * sum(np) * sum(nn)), 6) AS auc
      FROM cum"""

  /** Per-language SLICED AUC — the model-report-card row: GLOBAL
    * fixed-width bin edges (comparable cuts across slices), then the
    * tie-aware grouped Mann-Whitney per language; degenerate slices
    * (single-class) report NULL.
    */
  private def qcAucByLangSql(iters: Int, lr: String): String =
    qcChain(iters, lr) + s""",
      scored AS (SELECT lang, y,
                   CAST(round(($qcDot) * 1000000.0, 0) AS BIGINT) AS q
                 FROM f, w$iters),
      ext AS (SELECT min(q) AS qmin, max(q) AS qmax FROM scored),
      binned AS (SELECT lang, y,
                   CAST(((q - qmin) * CAST(1024 AS BIGINT))
                     // (qmax - qmin + 1) AS BIGINT) AS bin
                 FROM scored, ext),
      bys AS (SELECT lang, bin,
                sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS np,
                sum(CASE WHEN y <> 1.0 THEN 1 ELSE 0 END) AS nn
              FROM binned GROUP BY 1, 2),
      cum AS (SELECT lang, np, nn,
                coalesce(sum(nn) OVER (PARTITION BY lang ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cnb
              FROM bys)
      SELECT lang, CAST(sum(np) AS BIGINT) AS np,
             CAST(sum(nn) AS BIGINT) AS nn,
             CASE WHEN sum(np) = 0 OR sum(nn) = 0 THEN NULL
                  ELSE round(CAST(sum(np * (2 * cnb + nn)) AS DOUBLE)
                    / (2.0 * sum(np) * sum(nn)), 6) END AS auc
      FROM cum GROUP BY lang"""

  /** Gains curve over the binned-score relation: exact cumulative
    * long counts scanning buckets descending, one fixed-order division.
    */
  private def qcLiftSql(iters: Int, lr: String): String =
    qcBinnedSql(iters, lr) + s""",
      bys AS (SELECT bin, count(*) AS n,
                sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS np
              FROM binned GROUP BY bin),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                   CAST(sum(np) AS BIGINT) AS tp FROM bys),
      c AS (SELECT bin,
              CAST(sum(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
              CAST(sum(np) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_np
            FROM bys)
      SELECT bin, cum_n, cum_np,
             round((CAST(cum_np AS DOUBLE) / cum_n)
               / (CAST(tp AS DOUBLE) / tn), 6) AS lift
      FROM c CROSS JOIN t"""

  /** Decile reliability bins of σ(w·x) with millionth-quantized mean
    * predictions (order-free integer sums before the division).
    */
  private def qcCalibrationSql(iters: Int, lr: String): String =
    qcChain(iters, lr) + s""",
      scored AS (SELECT y,
                   least(CAST(floor((1.0/(1.0+exp(-($qcDot)))) * 10.0) AS INT),
                     9) AS bin,
                   CAST(round((1.0/(1.0+exp(-($qcDot)))) * 1000000.0, 0)
                     AS BIGINT) AS q
                 FROM f, w$iters)
      SELECT bin, count(*) AS n_docs,
             round(CAST(sum(q) AS DOUBLE) / 1000000.0
               / CAST(count(*) AS DOUBLE), 6) AS mean_pred,
             round(CAST(sum(CAST(y AS BIGINT)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS pos_rate
      FROM scored GROUP BY bin"""

  /** Brier + Murphy decomposition over the same replayed fit: integer
    * DECIMAL/HUGEINT sums for the brier numerator; per-bin REL/RES
    * terms evaluated in the identical fixed-order double expression as
    * the Spark side and quantized to picounit longs BEFORE the
    * cross-bin sum (never sum raw doubles across rows).
    */
  private def qcBrierSql(iters: Int, lr: String): String =
    qcChain(iters, lr) + s""",
      scored AS (SELECT CAST(y AS BIGINT) AS y,
                   least(CAST(floor((1.0/(1.0+exp(-($qcDot)))) * 10.0) AS INT),
                     9) AS bin,
                   CAST(round((1.0/(1.0+exp(-($qcDot)))) * 1000000.0, 0)
                     AS BIGINT) AS q
                 FROM f, w$iters),
      b AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk,
              CAST(sum(CAST(q AS HUGEINT)) AS HUGEINT) AS sp,
              CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS spp,
              CAST(sum(CAST(q AS HUGEINT) * y) AS HUGEINT) AS spy
            FROM scored GROUP BY bin),
      t AS (SELECT CAST(sum(nk) AS BIGINT) AS n,
                   CAST(sum(sy) AS BIGINT) AS sytot
            FROM b),
      terms AS (SELECT n, sytot, spp, spy,
                  CAST(round((CAST(sp AS DOUBLE) / 1000000.0 / CAST(nk AS DOUBLE)
                      - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE))
                    * (CAST(sp AS DOUBLE) / 1000000.0 / CAST(nk AS DOUBLE)
                      - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE))
                    * CAST(nk AS DOUBLE) * 1000000000000.0, 0) AS BIGINT) AS relq,
                  CAST(round((CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
                      - CAST(sytot AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
                      - CAST(sytot AS DOUBLE) / CAST(n AS DOUBLE))
                    * CAST(nk AS DOUBLE) * 1000000000000.0, 0) AS BIGINT) AS resq
                FROM b CROSS JOIN t)
      SELECT n AS n_docs,
             round((CAST(sum(spp) AS DOUBLE) - 2000000.0 * CAST(sum(spy) AS DOUBLE)
               + 1000000000000.0 * CAST(sytot AS DOUBLE))
               / (1000000000000.0 * CAST(n AS DOUBLE)), 6) AS brier,
             round(CAST(sytot AS DOUBLE) / CAST(n AS DOUBLE)
               * (1.0 - CAST(sytot AS DOUBLE) / CAST(n AS DOUBLE)), 6)
               AS uncertainty,
             round(CAST(sum(relq) AS DOUBLE)
               / (1000000000000.0 * CAST(n AS DOUBLE)), 6) AS reliability,
             round(CAST(sum(resq) AS DOUBLE)
               / (1000000000000.0 * CAST(n AS DOUBLE)), 6) AS resolution
      FROM terms GROUP BY n, sytot"""

  private val qcDot = "a*f0+b*f1+c*f2+d*f3+e*f4"

  /** The shared WITH-chain: features, n, and one MATERIALIZED
    * `g_i`/`w_i` CTE pair per GD round (materialization keeps DuckDB
    * from inlining the chain exponentially). Ends after `w<iters>`,
    * WITHOUT a trailing comma.
    */
  private def qcChain(iters: Int, lr: String): String = {
    val dot = qcDot
    def gradCte(i: Int, prevW: String): String = {
      val sums = (0 to 4).map { j =>
        s"""sum(CAST(round((1.0/(1.0+exp(-($dot))) - y)
           |          * f$j * 1000000.0, 0) AS BIGINT)) AS g$j""".stripMargin
      }.mkString(",\n        ")
      s"""g$i AS MATERIALIZED (SELECT
         |        $sums
         |        FROM f, $prevW)""".stripMargin
    }
    def stepCte(i: Int): String = {
      val cols = "abcde".zipWithIndex.map { case (w, j) =>
        s"$w - $lr*(g$j/1000000.0)/n AS $w" }.mkString(", ")
      s"w$i AS MATERIALIZED (SELECT $cols FROM w${i - 1}, g$i, nn)"
    }
    val rounds = (1 to iters)
      .map(i => gradCte(i, s"w${i - 1}") + ",\n      " + stepCte(i))
      .mkString(",\n      ")
    s"""
      WITH f AS MATERIALIZED (
        SELECT doc_id, lang,
               CASE WHEN least(stop * 2.0, 1.0) * 0.4 + alpha * 0.3
                       + least(wcnt / 50.0, 1.0) * 0.3 >= 0.5
                    THEN 1.0 ELSE 0.0 END AS y,
               1.0 AS f0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS f1,
               least(wcnt / 100.0, 1.0) AS f2,
               least(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / wcnt / 10.0, 1.0) AS f3,
               dcnt / wcnt AS f4
        FROM (SELECT doc_id, lang, text,
                     CAST(len(w) AS DOUBLE) AS wcnt,
                     CAST(len(list_distinct(w)) AS DOUBLE) AS dcnt,
                     len(list_filter(w, t -> list_contains(
                       ['the','a','of','and','to','in','on'], t)))
                       / CAST(len(w) AS DOUBLE) AS stop,
                     length(regexp_replace(text, '[^a-z]', '', 'g'))
                       / CAST(length(text) AS DOUBLE) AS alpha
              FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS w
                    FROM documents))),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
      w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c, 0.0 AS d, 0.0 AS e),
      $rounds"""
  }

  private val row = new Declared.Family(readsMemos = true)

  val rows: Seq[Declared] = Seq(
    // — composed pipeline ops (training-corpus preparation shapes) —
    row("pipeline_training_corpus", (s, d) => Pipeline.trainingCorpus(s, d), """
      WITH kept AS (
        SELECT doc_id, text
        FROM (SELECT doc_id, text,
                min(doc_id) OVER (PARTITION BY text) AS keeper
              FROM documents)
        WHERE keeper = doc_id),
      m AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM kept),
      s AS (
        SELECT doc_id, text, w,
          round(len(list_filter(w, t -> list_contains(['the','a','of','and','to'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_en,
          round(len(list_filter(w, t -> list_contains(['el','la','de','y','que'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_es,
          round(len(list_filter(w, t -> list_contains(['der','die','und','das','ist'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_de,
          round(len(list_filter(w, t -> list_contains(['le','la','de','et','les'], t))) / CAST(len(w) AS DOUBLE), 6) AS s_fr,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM m),
      q AS (
        SELECT doc_id,
          CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
               WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
               WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang,
          round(least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                + least(len(w) / 50.0, 1.0) * 0.3, 6) AS quality,
          CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS INT)
            AS n_bpe_tokens
        FROM s)
      SELECT doc_id, pred_lang, quality, n_bpe_tokens
      FROM q
      WHERE quality >= 0.5 AND pred_lang = 'en'
        AND n_bpe_tokens BETWEEN 10 AND 10000"""),

    row("pipeline_stratified_sample", Pipeline.stratifiedSample _, """
      WITH h AS (
        SELECT doc_id, lang,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1000000007) % 100 AS bucket
        FROM documents)
      SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
      FROM h
      WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 30 END"""),

    row("pipeline_heavy_hitters", (s, d) => Pipeline.heavyHitterTokens(s, d), """
      WITH t AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
      c AS (SELECT lang, token, count(*) AS n FROM t GROUP BY 1, 2),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
              ORDER BY n DESC, token) AS INT) AS rk FROM c)
      SELECT lang, token, n, rk FROM r WHERE rk <= 10"""),

    row("pipeline_pack_shards", (s, d) => Pipeline.packShards(s, d), """
      SELECT lang, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                     OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) // 2000 AS BIGINT) AS shard
      FROM documents"""),

    // packing QA: per-language shard-load distribution + imbalance
    // rollup of the same packing assignment; integer loads, one
    // double division each for mean and imbalance
    row("pipeline_shard_balance", (s, d) => Pipeline.shardBalance(s, d), """
      WITH ps AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(coalesce(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                       OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) // 2000 AS BIGINT) AS shard
        FROM documents),
      g AS (SELECT lang, shard, CAST(sum(n_tokens) AS BIGINT) AS tok
            FROM ps GROUP BY 1, 2)
      SELECT lang, count(*) AS n_shards,
             min(tok) AS min_tokens, max(tok) AS max_tokens,
             round(CAST(sum(tok) AS DOUBLE) / count(*), 6) AS mean_tokens,
             round(CAST(max(tok) * count(*) AS DOUBLE) / sum(tok), 6)
               AS imbalance
      FROM g GROUP BY 1"""),

    // mT5-style α=0.5 temperature rebalancing of the language mix
    // sqrt (not pow) on both sides: correctly rounded per IEEE-754, so
    // the α=0.5 weights are bit-identical across engines
    row("pipeline_temperature_sample", (s, d) => Pipeline.temperatureSample(s, d), """
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      s AS (SELECT CAST(sum(sqrt(n)) AS DOUBLE) AS spa FROM c),
      p AS (SELECT lang, n AS n_docs,
                   round(sqrt(n) / spa, 6) AS q,
                   CAST(round(least(1.0, 200 * (sqrt(n) / spa) / n) * 1000)
                        AS BIGINT) AS keep_permille
            FROM c CROSS JOIN s),
      k AS (SELECT d.lang, count(*) AS kept
            FROM documents d JOIN p ON d.lang = p.lang
            WHERE d.doc_id % 1000 < p.keep_permille GROUP BY d.lang)
      SELECT p.lang, n_docs, q, keep_permille,
             coalesce(kept, CAST(0 AS BIGINT)) AS n_kept
      FROM p LEFT JOIN k ON p.lang = k.lang"""),

    // DSIR hashed-unigram importance weights (target = lang 'en')
    // DSIR log-importance weights over md5-bucketed unigram features
    row("pipeline_dsir_weights", (s, d) => Pipeline.dsirWeights(s, d), """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents),
      tb AS (SELECT t.doc_id, d.lang, substr(md5(t.w), 1, 2) AS b
             FROM tok t JOIN documents d USING (doc_id)),
      cr AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
      ct AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY 1),
      c AS (SELECT b, cr, coalesce(ct, 0) AS ct FROM cr LEFT JOIN ct USING (b)),
      t AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
                   CAST(sum(ct) AS BIGINT) AS tt FROM c),
      sc AS (SELECT doc_id, ln((ct + 1.0) / (tt + 256.0))
                          - ln((cr + 1.0) / (tr + 256.0)) AS lw
             FROM tb JOIN c USING (b) CROSS JOIN t)
      SELECT doc_id, count(*) AS n_tokens, round(sum(lw), 6) AS log_weight
      FROM sc GROUP BY doc_id"""),

    // Efraimidis-Spirakis weighted k-sample (weight = token count)
    // the full A-ES draw replayed: same polyHash uniform, same rounded
    // key, same (key desc, doc_id) ranking
    row("pipeline_weighted_sample", (s, d) => Pipeline.weightedSample(s, d), """
      WITH d AS (SELECT doc_id, lang,
                        len(string_split(text, ' ')) AS w,
                        list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(
                            CAST(doc_id AS VARCHAR) || ':wsample', ''),
                            c -> CAST(unicode(c) AS BIGINT))),
                          (acc, c) -> (acc * 31 + c) % 1000000007) AS h
                 FROM documents),
      s AS (SELECT lang, doc_id, CAST(w AS BIGINT) AS n_tokens,
                   round(ln((h + 1.0) / 1000000008.0) / w, 9) AS es_key
            FROM d)
      SELECT lang, doc_id, n_tokens, es_key,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY es_key DESC, doc_id) AS INT) AS rk
      FROM s QUALIFY rk <= 20"""),

    // deterministic distributed logistic-regression quality filter
    // (integer-quantized batch GD; one agg scan per round)
    // all 50 GD rounds replayed verbatim as a generated chained CTE:
    // same features, same millionth-quantized per-row gradient terms
    // (exact integer sums, order-free), same fixed-shape double
    // weight update — see qcOracleSql
    row("pipeline_quality_classifier", (s, d) => Pipeline.qualityClassifier(s, d),
      qcOracleSql(iters = 50, lr = "5.0")),

    // active-learning cut: the 50 docs nearest the trained decision
    // boundary (smallest |w.x| micro-units, bounded-heap TakeOrdered)
    // boundary-distance replay off the same weight chain: identical
    // micro-quantized score, abs margin, lexicographic tie cut
    row("pipeline_uncertainty_sample", (s, d) => Pipeline.uncertaintySample(s, d),
      (qcChain(50, "5.0") + s""",
      sc AS (SELECT doc_id,
               CAST(round(($qcDot) * 1000000.0, 0) AS BIGINT) AS q
             FROM f, w50)
      SELECT doc_id, abs(q) AS margin_micro,
             CASE WHEN q >= 0 THEN 1 ELSE 0 END AS pred
      FROM sc ORDER BY abs(q), doc_id LIMIT 50""")),

    // tie-aware Mann-Whitney AUC of the trained scorer (weights memoized)
    row("eval_auc_classifier", (s, d) => Pipeline.classifierAuc(s, d),
      qcAucSql(iters = 50, lr = "5.0")),

    // the model-report-card slice row: per-language AUC on the same
    // global bin edges (a collapsed slice can hide under global AUC)
    row("eval_auc_by_lang", (s, d) => Pipeline.classifierAucByLang(s, d),
      qcAucByLangSql(iters = 50, lr = "5.0")),

    // lift/gains curve at every distinct score cut — the budget view
    // of the same trained classifier (AUC ranks, calibration trusts
    // probabilities, lift prices a selection budget)
    row("eval_lift_classifier", (s, d) => Pipeline.classifierLift(s, d),
      qcLiftSql(iters = 50, lr = "5.0")),

    // decile reliability bins (exact counts, quantized mean prediction)
    row("eval_calibration_classifier", (s, d) => Pipeline.classifierCalibration(s, d),
      qcCalibrationSql(iters = 50, lr = "5.0")),

    // Brier proper score + Murphy REL/RES/UNC decomposition over the
    // same 10 probability bins (quantize-before-sum discipline)
    row("eval_brier_classifier", (s, d) => Pipeline.classifierBrier(s, d),
      qcBrierSql(iters = 50, lr = "5.0")),

    // isotonic (PAV) calibration map via the minimax characterization
    // over 64 score bins — the monotone fit a serving tier looks up
    // minimax isotonic regression over the 64-bin score relation:
    // fit(i) = max_{j<=i} min_{k>=i} avg(j..k), every interval average
    // ONE double division of exact integer prefix-sum differences —
    // the identical formula the Spark side evaluates driver-side
    row("eval_isotonic_calibration", (s, d) => Pipeline.classifierIsotonic(s, d),
      (qcBinnedSql(50, "5.0", 64) + s""",
      bys AS (SELECT bin, count(*) AS nk,
                sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS sy
              FROM binned GROUP BY bin),
      pre AS (SELECT bin, nk, sy,
                row_number() OVER (ORDER BY bin) AS rn,
                sum(nk) OVER (ORDER BY bin) AS cnk,
                sum(sy) OVER (ORDER BY bin) AS csy
              FROM bys),
      iv AS (SELECT j.rn AS j, k.rn AS k,
               CAST(k.csy - j.csy + j.sy AS DOUBLE)
                 / (k.cnk - j.cnk + j.nk) AS a
             FROM pre j JOIN pre k ON j.rn <= k.rn),
      mn AS (SELECT i.rn AS i, v.j, min(v.a) AS mr
             FROM pre i JOIN iv v ON v.j <= i.rn AND v.k >= i.rn
             GROUP BY 1, 2),
      ft AS (SELECT i, max(mr) AS iso FROM mn GROUP BY 1)
      SELECT p.bin, CAST(p.nk AS BIGINT) AS n_docs,
             CAST(p.sy AS BIGINT) AS pos,
             round(CAST(p.sy AS DOUBLE) / p.nk, 6) AS rate,
             round(ft.iso, 6) AS iso_fit
      FROM pre p JOIN ft ON ft.i = p.rn""")),

    // corpus summary card in long (metric, value) form
    // the card's scalars replayed as a UNION of aggregates
    row("pipeline_dataset_card", Pipeline.datasetCard _, """
      WITH d AS (SELECT doc_id, lang, source,
                        len(string_split(text, ' ')) AS nw,
                        md5(text) AS h FROM documents),
      w AS (SELECT count(*) AS n_docs,
                   count(DISTINCT lang) AS n_languages,
                   count(DISTINCT source) AS n_sources,
                   sum(nw) AS total_words,
                   count(DISTINCT h) AS n_unique_texts FROM d)
      SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM w
      UNION ALL SELECT 'n_languages', CAST(n_languages AS DOUBLE) FROM w
      UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM w
      UNION ALL SELECT 'total_words', CAST(total_words AS DOUBLE) FROM w
      UNION ALL SELECT 'exact_dup_docs',
                       CAST(n_docs - n_unique_texts AS DOUBLE) FROM w
      UNION ALL SELECT 'avg_words',
                       round(CAST(total_words AS DOUBLE) / n_docs, 6)
                       FROM w"""),

    // deterministic md5-ordered k-sample through the bounded heap
    // both engines order by the identical md5 hex of the identical
    // string rendering of event_id
    row("pipeline_ksample", (s, d) => Pipeline.kSamplePerGroup(s, d), """
      SELECT event_type, event_id, value, rk FROM (
        SELECT event_type, event_id, value,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                 AS INT) AS rk
        FROM events)
      WHERE rk <= 20"""),

    // contrastive-training negatives: md5-ordered non-neighbors
    // negatives = md5-ordered non-neighbors; positives replayed via
    // the same exact-top-10 ranking the knn_exact_batch oracle uses
    row("pipeline_negative_sampling", (s, d) => Pipeline.negativeSampling(s, d), s"""
      WITH e AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                 FROM embeddings),
      p AS (SELECT CAST(round(0.95 * count(*)) AS BIGINT) AS s FROM e),
      d AS (SELECT q.vec_id AS qid, b.vec_id, $cosDistSql AS dist
            FROM e b, e q, p
            WHERE b.vec_id < p.s AND q.vec_id >= p.s),
      pos AS (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY dist, vec_id) AS rk
                FROM d) WHERE rk <= 10),
      cand AS (SELECT b.vec_id, q.vec_id AS qid,
                      md5(CAST(q.vec_id AS VARCHAR) || ':' ||
                          CAST(b.vec_id AS VARCHAR)) AS h
               FROM e b, e q, p
               WHERE b.vec_id < p.s AND q.vec_id >= p.s
                 AND NOT EXISTS (SELECT 1 FROM pos
                                 WHERE pos.qid = q.vec_id
                                   AND pos.vec_id = b.vec_id))
      SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY h, vec_id)
                  AS INT) AS rk
      FROM cand QUALIFY rk <= 20"""),

    // α=0.5 temperature token-budget allocation per source (the
    // data-mixing sheet); micro-quantized sqrt weights, exact shares
    // α=0.5 mixture plan: micro-quantized sqrt weights over exact
    // per-source token masses; every division on integer inputs
    row("pipeline_mixture_plan", (s, d) => Pipeline.mixturePlan(s, d), """
      WITH s AS (SELECT source, count(*) AS n_docs,
                        CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                          AS n_tokens
                 FROM documents GROUP BY 1),
      w AS (SELECT source, n_docs, n_tokens,
                   CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                        AS BIGINT) AS qw
            FROM s),
      t AS (SELECT CAST(sum(qw) AS BIGINT) AS tw FROM w)
      SELECT source, n_docs, n_tokens,
             round(CAST(qw AS DOUBLE) / tw, 6) AS share,
             CAST(round((100000.0 * qw) / tw) AS BIGINT) AS sampled_tokens,
             round(((100000.0 * qw) / tw) / CAST(n_tokens AS DOUBLE), 6)
               AS epochs
      FROM w CROSS JOIN t"""),

    // the same allocation sheet computed AFTER exact dedup — the
    // weights a release actually trains from (duplicate tokens train
    // nothing; raw masses over-credit re-crawling sources)
    // identical plan over the exact-dedup survivors (min doc_id per
    // md5(text))
    row("pipeline_mixture_dedup", (s, d) => Pipeline.mixturePlanDeduped(s, d), """
      WITH ex AS (SELECT min(doc_id) AS doc_id FROM documents
                  GROUP BY md5(text)),
      d AS (SELECT doc.* FROM documents doc JOIN ex USING (doc_id)),
      s AS (SELECT source, count(*) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                     AS n_tokens
            FROM d GROUP BY 1),
      w AS (SELECT source, n_docs, n_tokens,
                   CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                        AS BIGINT) AS qw
            FROM s),
      t AS (SELECT CAST(sum(qw) AS BIGINT) AS tw FROM w)
      SELECT source, n_docs, n_tokens,
             round(CAST(qw AS DOUBLE) / tw, 6) AS share,
             CAST(round((100000.0 * qw) / tw) AS BIGINT) AS sampled_tokens,
             round(((100000.0 * qw) / tw) / CAST(n_tokens AS DOUBLE), 6)
               AS epochs
      FROM w CROSS JOIN t"""),

    // CCNet-style interquartile perplexity band per language over the
    // Kneser-Ney surprisal (integer 4x-quantile band, exact membership)
    // the same per-doc KN surprisal, micro-nat quantized, then the
    // exact-integer 4x interquartile band per language
    row("pipeline_perplexity_band", (s, d) => Pipeline.perplexityBandPrune(s, d),
      s"""$knChainSql,
      doc AS (SELECT doc_id,
                CAST(round(round(avg(nll), 6) * 1000000.0) AS BIGINT) AS m6
              FROM sc GROUP BY doc_id),
      j AS (SELECT lang, m6 FROM doc JOIN documents USING (doc_id)),
      q AS (SELECT lang,
              CAST(round(quantile_cont(m6, 0.25) * 4) AS BIGINT) AS lo4,
              CAST(round(quantile_cont(m6, 0.75) * 4) AS BIGINT) AS hi4
            FROM j GROUP BY lang)
      SELECT j.lang, count(*) AS n_docs,
             CAST(sum(CASE WHEN m6 * 4 >= lo4 AND m6 * 4 <= hi4
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             lo4, hi4
      FROM j JOIN q USING (lang) GROUP BY j.lang, lo4, hi4"""),

    // map-only hash-boundary train/val/test assignment
    // same hash-boundary CASE over the identical md5 hex
    row("pipeline_train_val_test", Pipeline.trainValTest _, """
      SELECT doc_id, lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'b4'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'd9'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents"""),

    // leakage-safe twin: the split key is the near-dup CLUSTER
    // representative, so near-duplicates can never straddle
    // train/test (the eval-inflation leak a doc-hash split permits)
    // the dedup_clusters recursive CTE with the md5 split rule applied
    // to the REPRESENTATIVE id instead of the doc id
    row("pipeline_leakage_safe_split", (s, d) => Pipeline.leakageSafeSplit(s, d), """
      WITH RECURSIVE
      g AS (SELECT doc_id,
              list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, len(w)-1)]) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      e AS (SELECT doc_id, len(grams) AS ng, unnest(grams) AS gram FROM g),
      p AS (SELECT doc_a, doc_b FROM (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared,
                     max(a.ng) AS na, max(b.ng) AS nb
              FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            WHERE round(shared / (na + nb - shared), 6) >= 0.8),
      ed AS (SELECT doc_a AS s, doc_b AS d FROM p
             UNION SELECT doc_b, doc_a FROM p),
      reach(s, d) AS (
        SELECT s, d FROM ed
        UNION
        SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
      m AS (SELECT s, min(d) AS mn FROM reach GROUP BY s),
      c AS (SELECT doc.doc_id,
                   least(doc.doc_id, coalesce(m.mn, doc.doc_id)) AS rep_id
            FROM documents doc LEFT JOIN m ON doc.doc_id = m.s)
      SELECT doc_id, rep_id,
             CASE WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'b4'
                    THEN 'train'
                  WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'd9'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM c"""),

    // easy-to-hard curriculum schedule: total-order quality rank +
    // exact integer deciles (a pure function of the corpus)
    // the same total order (q6 desc, doc_id) and exact decile integer
    // arithmetic
    row("pipeline_curriculum", (s, d) => Pipeline.curriculum(s, d), """
      WITH q0 AS (
        SELECT doc_id,
          len(w) AS n_words,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM (SELECT doc_id, text, string_split(text, ' ') AS w
              FROM documents)),
      s AS (SELECT doc_id,
              CAST(round((least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                + least(n_words / 50.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS q6
            FROM q0),
      r AS (SELECT doc_id, q6,
              CAST(row_number() OVER (ORDER BY q6 DESC, doc_id ASC)
                AS BIGINT) AS curriculum_rank,
              CAST(count(*) OVER () AS BIGINT) AS n
            FROM s)
      SELECT doc_id, round(q6 / 1000000.0, 6) AS quality,
             curriculum_rank,
             CAST((curriculum_rank - 1) * 10 // n AS BIGINT) AS decile
      FROM r"""),

    // END-TO-END curation flagship: ingest -> exact dedup -> near-dup
    // keep-best (memoized clusters) -> per-lang quality gate ->
    // tokenize -> fused curriculum rank + sequence packing (one range
    // layout) -> shard assignment, under one plan and one hash gate
    // the full curation pipeline as one chained CTE: exact dedup ->
    // near-dup keep-best (the dedup_keep_best recursive-CTE cluster
    // chain) -> per-lang median gate -> rank + token prefix sum ->
    // integer seq/shard arithmetic
    row("pipeline_end_to_end", (s, d) => Pipeline.endToEndManifest(s, d),
      endToEndOracleSql),

    // its final shard-balance manifest rolled up from the same
    // composed relation
    row("pipeline_end_to_end_shards", (s, d) => Pipeline.endToEndShards(s, d), s"""
      WITH m AS ($endToEndOracleSql)
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(min(curriculum_rank) AS BIGINT) AS first_rank,
             CAST(max(curriculum_rank) AS BIGINT) AS last_rank
      FROM m GROUP BY shard"""),

    // GPT-style concat-then-chunk packing manifest: one exclusive
    // prefix sum (range-partitionable), pure integer arithmetic
    row("pipeline_pack_sequences", (s, d) => Pipeline.packSequences(s, d), """
      WITH t AS (SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                 FROM documents),
      p AS (SELECT doc_id, n_tok,
              coalesce(CAST(sum(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS BIGINT), 0) AS start_tok
            FROM t)
      SELECT doc_id, n_tok, start_tok,
             start_tok // 512 AS start_seq,
             (start_tok + n_tok - 1) // 512 AS end_seq,
             start_tok % 512 AS start_off,
             (start_tok + n_tok - 1) // 512 - start_tok // 512 + 1
               AS n_seqs
      FROM p"""),

    // padding-waste audit: arrival-order vs length-sorted batch-of-32
    // composition, both on the range-partitioned rank primitive
    // one exclusive prefix sum in doc_id order; integer div/mod only
    // pad-efficiency replay: the same two total orders via
    // row_number, same batch-of-32 bucketing, exact integer waste
    row("pipeline_pad_efficiency", (s, d) => Pipeline.padEfficiency(s, d), """
      WITH t AS (SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                 FROM documents),
      ra AS (SELECT n_tok,
               (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS b
             FROM t),
      rs AS (SELECT n_tok,
               (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS b
             FROM t),
      aa AS (SELECT b, count(*) AS bn, sum(n_tok) AS bt, max(n_tok) AS bm
             FROM ra GROUP BY b),
      sa AS (SELECT b, count(*) AS bn, sum(n_tok) AS bt, max(n_tok) AS bm
             FROM rs GROUP BY b),
      u AS (
        SELECT 'arrival' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(bt) AS BIGINT) AS total_tokens,
               CAST(sum(bn * bm) AS BIGINT) AS padded_tokens
        FROM aa
        UNION ALL
        SELECT 'length_sorted', CAST(count(*) AS BIGINT),
               CAST(sum(bt) AS BIGINT), CAST(sum(bn * bm) AS BIGINT)
        FROM sa)
      SELECT strategy, n_batches, total_tokens, padded_tokens,
             (padded_tokens - total_tokens) * 1000 // padded_tokens
               AS waste_permille
      FROM u"""),

    // deterministic per-epoch training-order permutation via the
    // range-partitioned global rank (corpus-scale by construction)
    // the same md5(doc_id:epoch) total order, tie-broken by doc_id
    row("pipeline_epoch_shuffle", (s, d) => Pipeline.epochShuffle(s, d), """
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':epoch:1'), doc_id)
               AS BIGINT) AS shuffle_pos
      FROM documents"""),

    // greedy k-center diversity coreset: k broadcast-map rounds +
    // TakeOrdered(1) argmax each; quantized distances, min-id ties
    // greedy farthest-point rounds replayed as a generated chained CTE
    row("pipeline_kcenter_coreset", (s, d) => Pipeline.kCenterCoreset(s, d),
      kcenterOracleSql(8)),
  )
}
