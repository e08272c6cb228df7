package graft
package queries

import graft.operators.{Profiling, Stats}
import OracleSql.c100

/** Statistical tests, data-quality expectations and privacy checks
  * (`stats_`, `quality_`, `privacy_`).
  */
object StatsQueries {

  /** Daily PSI drift oracle shared by the batch row and its streamed
    * twin: same fixed cent bins, same dense |days|×10 grid, same
    * smoothed micro-quantized term sum.
    */
  private val psiDriftOracle: String = """
      WITH e AS (SELECT epoch_us(ts) // 86400000000 AS epday,
                   least(CAST(round(value * 100) AS BIGINT) // 5000, 9)
                     AS bin
                 FROM events WHERE event_type = 'purchase'),
      g AS (SELECT epday, bin, count(*) AS c FROM e GROUP BY 1, 2),
      t AS (SELECT epday, sum(c) AS nd FROM g GROUP BY 1),
      grid AS (SELECT t.epday, t.nd,
                 unnest(generate_series(0, 9)) AS bin FROM t),
      d AS (SELECT grid.epday, grid.nd, grid.bin, coalesce(g.c, 0) AS c
            FROM grid LEFT JOIN g
              ON g.epday = grid.epday AND g.bin = grid.bin),
      j AS (SELECT a.epday, a.nd AS n_curr, p.nd AS n_prev,
                   (a.c + 1) / CAST(a.nd + 10 AS DOUBLE) AS pc,
                   (p.c + 1) / CAST(p.nd + 10 AS DOUBLE) AS pp
            FROM d a JOIN d p
              ON p.epday = a.epday - 1 AND p.bin = a.bin)
      SELECT epday, CAST(max(n_curr) AS BIGINT) AS n_curr,
             CAST(max(n_prev) AS BIGINT) AS n_prev,
             round(sum(CAST(round((pc - pp) * ln(pc / pp) * 1000000.0)
               AS BIGINT)) / 1000000.0, 6) AS psi
      FROM j GROUP BY 1"""

  private val row = new Declared.Family(readsMemos = false)

  val rows: Seq[Declared] = Seq(
    // all source-pair KS tests under Benjamini-Hochberg FDR control:
    // integer sup-gaps, asymptotic p, running-min q-values
    // BH-FDR replay: same per-source CDF grid, same integer sup-gap,
    // same 3-term asymptotic p, same rank/running-min q chain
    row("stats_ks_fdr", (s, d) => Stats.ksFdrBySource(s, d), """
      WITH q0 AS (
        SELECT source,
          len(w) AS n_words,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM (SELECT source, text, string_split(text, ' ') AS w
              FROM documents)),
      q AS (SELECT source,
              CAST(round((least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                + least(n_words / 50.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS q6
            FROM q0),
      cells AS (SELECT source, q6, count(*) AS c FROM q GROUP BY 1, 2),
      grid AS (SELECT g.q6, s.source, coalesce(cells.c, 0) AS c
               FROM (SELECT DISTINCT q6 FROM cells) g
               CROSS JOIN (SELECT DISTINCT source FROM cells) s
               LEFT JOIN cells ON cells.q6 = g.q6
                 AND cells.source = s.source),
      cdf AS (SELECT source, q6,
                CAST(sum(c) OVER (PARTITION BY source ORDER BY q6
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
              FROM grid),
      tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
              FROM cells GROUP BY 1),
      pd AS (SELECT a.source AS sa, b.source AS sb,
               ta.n AS na, tb.n AS nb,
               max(abs(a.cum * tb.n - b.cum * ta.n)) AS dint
             FROM cdf a JOIN cdf b ON a.q6 = b.q6 AND a.source < b.source
             JOIN tot ta ON ta.source = a.source
             JOIN tot tb ON tb.source = b.source
             GROUP BY 1, 2, 3, 4),
      pp AS (SELECT sa, sb,
               CAST(dint AS DOUBLE) / (CAST(na AS DOUBLE) * nb) AS d,
               least(1.0, greatest(0.0, 2.0 * (
                 exp(-2.0 * (((sqrt(CAST(na AS DOUBLE) * nb / (na + nb))
                     + 0.12 + 0.11 / sqrt(CAST(na AS DOUBLE) * nb
                       / (na + nb)))
                   * (CAST(dint AS DOUBLE) / (CAST(na AS DOUBLE) * nb)))
                   * ((sqrt(CAST(na AS DOUBLE) * nb / (na + nb))
                     + 0.12 + 0.11 / sqrt(CAST(na AS DOUBLE) * nb
                       / (na + nb)))
                   * (CAST(dint AS DOUBLE) / (CAST(na AS DOUBLE) * nb)))))
                 - exp(-8.0 * (((sqrt(CAST(na AS DOUBLE) * nb / (na + nb))
                     + 0.12 + 0.11 / sqrt(CAST(na AS DOUBLE) * nb
                       / (na + nb)))
                   * (CAST(dint AS DOUBLE) / (CAST(na AS DOUBLE) * nb)))
                   * ((sqrt(CAST(na AS DOUBLE) * nb / (na + nb))
                     + 0.12 + 0.11 / sqrt(CAST(na AS DOUBLE) * nb
                       / (na + nb)))
                   * (CAST(dint AS DOUBLE) / (CAST(na AS DOUBLE) * nb)))))
                 + exp(-18.0 * (((sqrt(CAST(na AS DOUBLE) * nb / (na + nb))
                     + 0.12 + 0.11 / sqrt(CAST(na AS DOUBLE) * nb
                       / (na + nb)))
                   * (CAST(dint AS DOUBLE) / (CAST(na AS DOUBLE) * nb)))
                   * ((sqrt(CAST(na AS DOUBLE) * nb / (na + nb))
                     + 0.12 + 0.11 / sqrt(CAST(na AS DOUBLE) * nb
                       / (na + nb)))
                   * (CAST(dint AS DOUBLE) / (CAST(na AS DOUBLE) * nb)))))
                 ))) AS p
             FROM pd),
      rk AS (SELECT sa, sb, d, p,
               row_number() OVER (ORDER BY p, sa, sb) AS rk,
               count(*) OVER () AS m
             FROM pp)
      SELECT sa AS source_a, sb AS source_b,
             round(d, 6) AS d, round(p, 6) AS p_raw,
             round(least(1.0, min(p * m / rk) OVER (ORDER BY rk
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6)
               AS q_value,
             CASE WHEN least(1.0, min(p * m / rk) OVER (ORDER BY rk
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) <= 0.05
               THEN 1 ELSE 0 END AS significant
      FROM rk"""),

    // per-column profiling via unioned per-column branches (deliberately
    // NOT the Expand plan — see Profiling.scala's rationale)
    // per-column profile: one SELECT per column, engine-portable
    // representations (cents / epoch days) so min/max stringify alike
    row("quality_profile_orders", Profiling.profileOrders _, {
      val prep = s"""SELECT o_orderkey, o_custkey, o_orderstatus,
          ${c100("o_totalprice")} AS o_totalprice_cents,
          CAST(date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS BIGINT)
            AS o_orderdate_epday,
          o_orderpriority FROM orders"""
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice_cents", "o_orderdate_epday", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
            count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
            CAST(min($c) AS VARCHAR) AS min_repr,
            CAST(max($c) AS VARCHAR) AS max_repr FROM o"""
      }.mkString(s"WITH o AS ($prep)\n", "\nUNION ALL\n", "")
    }),

    // one-pass Pearson correlation matrix over exact decimal moments
    // identical exact-integer moments (DuckDB integer sums promote to
    // HUGEINT; Spark sums DECIMAL(38,0)) and the identical final
    // double formula — corr is scale-invariant so cent-space == raw
    row("stats_correlation_matrix", (s, d) => Stats.correlationMatrix(s, d), """
      WITH q AS (SELECT CAST(round(l_quantity * 100, 0) AS BIGINT) AS q,
                        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS e,
                        CAST(round(l_discount * 100, 0) AS BIGINT) AS dd,
                        CAST(round(l_tax * 100, 0) AS BIGINT) AS t
                 FROM lineitem),
      m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                   sum(q) AS s_q, sum(e) AS s_e, sum(dd) AS s_d,
                   sum(t) AS s_t,
                   sum(q*q) AS ss_q, sum(e*e) AS ss_e, sum(dd*dd) AS ss_d,
                   sum(t*t) AS ss_t,
                   sum(q*e) AS x_qe, sum(q*dd) AS x_qd, sum(q*t) AS x_qt,
                   sum(e*dd) AS x_ed, sum(e*t) AS x_et, sum(dd*t) AS x_dt
            FROM q)
      SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
             round(CAST(n*x_qe - s_q*s_e AS DOUBLE)
               / sqrt(CAST(n*ss_q - s_q*s_q AS DOUBLE))
               / sqrt(CAST(n*ss_e - s_e*s_e AS DOUBLE)), 6) AS corr FROM m
      UNION ALL
      SELECT 'l_quantity', 'l_discount',
             round(CAST(n*x_qd - s_q*s_d AS DOUBLE)
               / sqrt(CAST(n*ss_q - s_q*s_q AS DOUBLE))
               / sqrt(CAST(n*ss_d - s_d*s_d AS DOUBLE)), 6) FROM m
      UNION ALL
      SELECT 'l_quantity', 'l_tax',
             round(CAST(n*x_qt - s_q*s_t AS DOUBLE)
               / sqrt(CAST(n*ss_q - s_q*s_q AS DOUBLE))
               / sqrt(CAST(n*ss_t - s_t*s_t AS DOUBLE)), 6) FROM m
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount',
             round(CAST(n*x_ed - s_e*s_d AS DOUBLE)
               / sqrt(CAST(n*ss_e - s_e*s_e AS DOUBLE))
               / sqrt(CAST(n*ss_d - s_d*s_d AS DOUBLE)), 6) FROM m
      UNION ALL
      SELECT 'l_extendedprice', 'l_tax',
             round(CAST(n*x_et - s_e*s_t AS DOUBLE)
               / sqrt(CAST(n*ss_e - s_e*s_e AS DOUBLE))
               / sqrt(CAST(n*ss_t - s_t*s_t AS DOUBLE)), 6) FROM m
      UNION ALL
      SELECT 'l_discount', 'l_tax',
             round(CAST(n*x_dt - s_d*s_t AS DOUBLE)
               / sqrt(CAST(n*ss_d - s_d*s_d AS DOUBLE))
               / sqrt(CAST(n*ss_t - s_t*s_t AS DOUBLE)), 6) FROM m"""),

    // chi-square independence of priority x segment (window totals,
    // exact integer-micros statistic)
    // window-sum totals over the 25-cell contingency table; per-cell
    // (O-E)^2/E quantized to integer millionths before the exact sum
    row("stats_chi_square", (s, d) => Stats.chiSquareIndependence(s, d), """
      WITH cells AS (SELECT o_orderpriority AS a, c_mktsegment AS b,
                            count(*) AS o
                     FROM orders JOIN customer ON o_custkey = c_custkey
                     GROUP BY 1, 2),
      w AS (SELECT a, b, o,
                   sum(o) OVER (PARTITION BY a) AS r,
                   sum(o) OVER (PARTITION BY b) AS c,
                   sum(o) OVER () AS n FROM cells),
      k AS (SELECT count(DISTINCT a) AS n_a, count(DISTINCT b) AS n_b
            FROM cells),
      s AS (SELECT sum(CAST(round(pow(CAST(o AS DOUBLE)
                - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 2)
              / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
              * 1000000, 0) AS BIGINT)) AS cm,
            max(n) AS n FROM w)
      SELECT CAST(cm AS DOUBLE) / 1000000.0 AS chi2,
             CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
             CAST(n AS BIGINT) AS n
      FROM s, k"""),

    // revenue-concentration Gini via the exact integer rank formula
    // exact integer rank formula: ranks and cent sums are integers on
    // both engines; the single division is the only floating-point op
    row("stats_gini_revenue", (s, d) => Stats.giniCoefficient(s, d), """
      WITH s AS (SELECT o_custkey AS custkey,
                        sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS c
                 FROM orders GROUP BY 1),
      r AS (SELECT c, CAST(row_number() OVER (ORDER BY c, custkey) AS BIGINT)
                   AS rk
            FROM s),
      m AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(c) AS sx,
                   sum(rk * c) AS srx
            FROM r)
      SELECT round(CAST(2 * srx - (n + 1) * sx AS DOUBLE)
               / CAST(n * sx AS DOUBLE), 6) AS gini,
             CAST(n AS BIGINT) AS n_customers
      FROM m"""),

    // Benford leading-digit profile (digit from the exact cent string)
    // leading digit from the exact cent value's decimal string —
    // integer-to-string is identical across engines, float log10 near
    // a power of ten is not
    row("stats_benford_digits", (s, d) => Stats.benfordDigits(s, d), """
      WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
                        AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
                 FROM orders),
      g AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY 1),
      t AS (SELECT sum(n_orders) AS total FROM g)
      SELECT digit, n_orders,
             round(CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE), 6)
               AS freq,
             round(log10(1.0 + 1.0 / digit), 6) AS expected
      FROM g, t"""),

    // per-source quality-distribution drift vs the corpus baseline
    // (PSI over 5 equal-width bins, micro-unit-quantized terms)
    row("stats_psi_by_source", (s, d) => Stats.psiBySource(s, d), """
      WITH d AS (
        SELECT source,
          least(CAST(floor(round(least(stop_raw * 2.0, 1.0) * 0.4
                  + alpha_raw * 0.3 + least(n_words / 50.0, 1.0) * 0.3,
                6) * 5) AS INT), 4) AS bin
        FROM (SELECT source, len(w) AS n_words,
                len(list_filter(w, t -> list_contains(
                  ['the','a','of','and','to','in','on'], t)))
                  / CAST(len(w) AS DOUBLE) AS stop_raw,
                length(regexp_replace(text, '[^a-z]', '', 'g'))
                  / CAST(length(text) AS DOUBLE) AS alpha_raw
              FROM (SELECT source, text, string_split(text, ' ') AS w
                    FROM documents))),
      g AS (SELECT source, bin, count(*) AS c FROM d GROUP BY 1, 2),
      st AS (SELECT source, sum(c) AS ns FROM g GROUP BY 1),
      cb AS (SELECT bin, sum(c) AS cbn FROM g GROUP BY 1),
      nn AS (SELECT sum(c) AS n FROM g),
      grid AS (SELECT source, ns, unnest(generate_series(0, 4)) AS bin
               FROM st),
      j AS (SELECT grid.source, grid.ns, grid.bin,
                   coalesce(g.c, 0) AS c, cb.cbn, nn.n
            FROM grid LEFT JOIN g
              ON g.source = grid.source AND g.bin = grid.bin
            JOIN cb ON cb.bin = grid.bin, nn),
      t AS (SELECT source, CAST(round(
              ((c + 1) / CAST(ns + 5 AS DOUBLE)
                - (cbn + 1) / CAST(n + 5 AS DOUBLE))
              * ln(((c + 1) / CAST(ns + 5 AS DOUBLE))
                   / ((cbn + 1) / CAST(n + 5 AS DOUBLE)))
              * 1000000.0) AS BIGINT) AS m
            FROM j)
      SELECT source, round(CAST(sum(m) AS DOUBLE) / 1000000.0, 6) AS psi
      FROM t GROUP BY source"""),

    // day-over-day PSI of the purchase-value distribution: the
    // temporal drift monitor (fixed cent bins, Laplace-smoothed,
    // micro-quantized terms — the psiBySource discipline)
    // daily PSI drift replay: same fixed cent bins, same dense
    // |days|x10 grid, same smoothed micro-quantized term sum
    // (streamed twin shares it: the stream maintains the identical
    // cell state, so the chain output matches bit-for-bit)
    row("stats_psi_drift_daily", (s, d) => Stats.psiDriftDaily(s, d), psiDriftOracle),

    // streaming-executed twin: the (day, bin) histogram
    // cells maintained as complete-mode state, the PSI chain read off
    // the drained state; shares the batch oracle
    row("stats_psi_drift_streamed", (s, d) =>
      graft.streaming.EventStream.psiDriftStreamed(s, d), psiDriftOracle),

    // two-sample KS over full ECDFs (integer-numerator exact) — the
    // unbinned distribution-equality gate next to the PSI monitor
    // pooled-distinct-value ECDFs, difference kept in integer
    // numerator form |cum_a*n_b - cum_b*n_a| until one final division
    row("stats_ks_quality", (s, d) => Stats.ksQualityBySource(s, d), """
      WITH q0 AS (
        SELECT source,
          len(w) AS n_words,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM (SELECT source, text, string_split(text, ' ') AS w
              FROM documents)
        WHERE source IN ('src0', 'src1')),
      q AS (SELECT source,
              CAST(round((least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                + least(n_words / 50.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS q6
            FROM q0),
      cells AS (SELECT q6,
                  sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
                  sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
                FROM q GROUP BY 1),
      t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                   CAST(sum(cb) AS BIGINT) AS n_b FROM cells),
      c AS (SELECT q6,
              CAST(sum(ca) OVER (ORDER BY q6 ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
              CAST(sum(cb) OVER (ORDER BY q6 ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
            FROM cells)
      SELECT n_a, n_b,
             round(CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * n_b), 6) AS ks_d
      FROM c CROSS JOIN t GROUP BY n_a, n_b"""),

    // pairwise Jensen-Shannon divergence between source histograms —
    // the symmetric always-finite drift metric (picounit-quantized
    // per-bin terms before the cross-bin sum)
    // JSD replay: same 8-bin quality histogram, identical per-bin
    // double term quantized to picounit longs before the pair sum
    row("stats_jsd_sources", (s, d) => Stats.jsdBySource(s, d), """
      WITH d AS (
        SELECT source,
          least(CAST(floor(round(least(stop_raw * 2.0, 1.0) * 0.4
                  + alpha_raw * 0.3 + least(n_words / 50.0, 1.0) * 0.3,
                6) * 8) AS INT), 7) AS bin
        FROM (SELECT source, len(w) AS n_words,
                len(list_filter(w, t -> list_contains(
                  ['the','a','of','and','to','in','on'], t)))
                  / CAST(len(w) AS DOUBLE) AS stop_raw,
                length(regexp_replace(text, '[^a-z]', '', 'g'))
                  / CAST(length(text) AS DOUBLE) AS alpha_raw
              FROM (SELECT source, text, string_split(text, ' ') AS w
                    FROM documents))),
      g AS (SELECT source, bin, count(*) AS c FROM d GROUP BY 1, 2),
      st AS (SELECT source, sum(c) AS ns FROM g GROUP BY 1),
      grid AS (SELECT gg.source, gg.ns, gg.bin, coalesce(g.c, 0) AS c
               FROM (SELECT source, ns,
                       unnest(generate_series(0, 7)) AS bin
                     FROM st) gg
               LEFT JOIN g ON g.source = gg.source AND g.bin = gg.bin),
      a AS (SELECT source AS source_a, bin, c AS ca, ns AS na FROM grid),
      b AS (SELECT source AS source_b, bin, c AS cb, ns AS nb FROM grid),
      t AS (SELECT source_a, source_b,
              CAST(round((
                (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / na)
                   * ln(2.0 * (CAST(ca AS DOUBLE) / na)
                        / ((CAST(ca AS DOUBLE) / na)
                           + (CAST(cb AS DOUBLE) / nb)))
                 ELSE 0 END)
              + (CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / nb)
                   * ln(2.0 * (CAST(cb AS DOUBLE) / nb)
                        / ((CAST(ca AS DOUBLE) / na)
                           + (CAST(cb AS DOUBLE) / nb)))
                 ELSE 0 END)) * 1000000000000.0) AS BIGINT) AS t12
            FROM a JOIN b USING (bin) WHERE source_a < source_b)
      SELECT source_a, source_b,
             round(CAST(sum(t12) AS DOUBLE) / 2000000000000.0, 6) AS jsd
      FROM t GROUP BY 1, 2"""),

    // Bayesian-bootstrap 95% CI for the mean order value: deterministic
    // Exp(1) weights off the cross-engine hash, ranked replicate means
    row("stats_bootstrap_ci", (s, d) => Stats.bootstrapCiOrderValue(s, d), """
      WITH r AS (SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS x100,
                   unnest(generate_series(1, 100)) AS b
                 FROM orders),
      h AS (SELECT b, x100,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split(
                  CAST(o_orderkey AS VARCHAR) || ':bs' ||
                    CAST(b AS VARCHAR), ''),
                  c -> CAST(unicode(c) AS BIGINT))),
                (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
            FROM r),
      h2 AS (SELECT b, x100,
               (hv * hv + hv) % 1000000007 AS hv2 FROM h),
      w AS (SELECT b,
              CAST(round(-(ln((CAST(hv2 AS DOUBLE) + 1.0) / 1000000008.0))
                * x100 * 1000.0) AS BIGINT) AS qwx,
              CAST(round(-(ln((CAST(hv2 AS DOUBLE) + 1.0) / 1000000008.0))
                * 1000000000.0) AS BIGINT) AS qw
            FROM h2),
      m AS (SELECT b, CAST(sum(qwx) AS DOUBLE) * 1000000.0
                        / CAST(sum(qw) AS DOUBLE) / 100.0 AS m
            FROM w GROUP BY b),
      rk AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM m),
      t AS (SELECT count(*) AS n_orders,
              sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                / count(*) AS mean_raw
            FROM orders)
      SELECT n_orders, round(mean_raw, 6) AS mean,
             (SELECT round(m, 6) FROM rk WHERE rk = 3) AS lo95,
             (SELECT round(m, 6) FROM rk WHERE rk = 98) AS hi95
      FROM t"""),

    // delta-method CI for the ratio metric revenue-per-order with
    // customer as the randomization unit (linearized variance)
    // full bootstrap replay: identical hash-derived Exp(1) weights,
    // identical milli-cent/nano-weight quantization before the
    // per-replicate sums, identical rank-3/rank-98 cut of B=100
    // delta-method replay: same integer moments, same fixed-order
    // linearized-variance chain, population divisors
    row("stats_ratio_ci_delta", (s, d) => Stats.ratioCiDelta(s, d), """
      WITH per AS (SELECT o_custkey,
                     sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y,
                     count(*) AS k
                   FROM orders GROUP BY 1),
      pu AS (SELECT c.c_custkey, coalesce(p.y, 0) AS y,
               coalesce(p.k, 0) AS k
             FROM customer c LEFT JOIN per p ON c.c_custkey = p.o_custkey),
      m AS (SELECT count(*) AS n, sum(y) AS sy, sum(k) AS sk,
              sum(CAST(y AS HUGEINT) * k) AS syk,
              sum(CAST(y AS HUGEINT) * y) AS syy,
              sum(k * k) AS skk
            FROM pu),
      d AS (SELECT n, CAST(sy AS DOUBLE) / sk AS r,
              (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n
                AS vy,
              (CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n) / n
                AS vk,
              (CAST(syk AS DOUBLE) - CAST(sy AS DOUBLE) * sk / n) / n
                AS cyk,
              CAST(sk AS DOUBLE) / n AS mk
            FROM m),
      s AS (SELECT n, r,
              sqrt((vy - 2.0 * r * cyk + r * r * vk)
                   / (CAST(n AS DOUBLE) * mk * mk)) AS se
            FROM d)
      SELECT CAST(n AS BIGINT) AS n_customers,
             round(r / 100.0, 6) AS ratio,
             round(se / 100.0, 6) AS se,
             round((r - 1.96 * se) / 100.0, 6) AS lo95,
             round((r + 1.96 * se) / 100.0, 6) AS hi95
      FROM s"""),

    // tie-corrected Mann-Whitney U + common-language effect size —
    // rank-based stochastic dominance, exact doubled rank sums
    // same quality binning as text_quality, same Laplace-smoothed
    // ratios, each bin's (p-q)*ln(p/q) quantized to integer millionths
    // before the per-source sum (the Adamic-Adar discipline)
    // same pooled-distinct-value window; doubled tie-averaged rank
    // sums stay exact longs, one final division
    row("stats_mann_whitney_quality", (s, d) => Stats.mannWhitneyQuality(s, d), """
      WITH q0 AS (
        SELECT source,
          len(w) AS n_words,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM (SELECT source, text, string_split(text, ' ') AS w
              FROM documents)
        WHERE source IN ('src0', 'src1')),
      q AS (SELECT source,
              CAST(round((least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                + least(n_words / 50.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS q6
            FROM q0),
      cells AS (SELECT q6,
                  sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
                  sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
                FROM q GROUP BY 1),
      c AS (SELECT q6, ca, cb, ca + cb AS cnt,
              coalesce(CAST(sum(ca + cb) OVER (ORDER BY q6 ROWS BETWEEN
                UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev
            FROM cells),
      a AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                   CAST(sum(cb) AS BIGINT) AS n_b,
                   CAST(sum(ca * (2 * prev + cnt + 1)) AS BIGINT) AS r2a
            FROM c)
      SELECT n_a, n_b, r2a - n_a * (n_a + 1) AS u2,
             round(CAST(r2a - n_a * (n_a + 1) AS DOUBLE)
               / (2.0 * CAST(n_a AS DOUBLE) * n_b), 6) AS effect
      FROM a"""),

    // Spearman rank correlation length vs quality per source — exact
    // doubled tie-averaged ranks, one decimal moment aggregate
    // per-source doubled tie-averaged ranks over distinct values, then
    // Pearson over the doubled ranks with HUGEINT moments and the
    // identical num/sqrt/sqrt division order
    row("stats_spearman_length_quality", (s, d) => Stats.spearmanLengthQuality(s, d),
      """
      WITH q0 AS (
        SELECT source,
          len(w) AS n_words,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM (SELECT source, text, string_split(text, ' ') AS w
              FROM documents)),
      base AS (SELECT source, CAST(n_words AS BIGINT) AS len,
          CAST(round((least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
            + least(n_words / 50.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS q6
        FROM q0),
      cx AS (SELECT source, len AS v, CAST(count(*) AS BIGINT) AS cnt
             FROM base GROUP BY 1, 2),
      rx AS (SELECT source, v AS len,
               2 * coalesce(CAST(sum(cnt) OVER (PARTITION BY source
                 ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
                 1 PRECEDING) AS BIGINT), 0) + cnt + 1 AS r2x
             FROM cx),
      cy AS (SELECT source, q6 AS v, CAST(count(*) AS BIGINT) AS cnt
             FROM base GROUP BY 1, 2),
      ry AS (SELECT source, v AS q6,
               2 * coalesce(CAST(sum(cnt) OVER (PARTITION BY source
                 ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
                 1 PRECEDING) AS BIGINT), 0) + cnt + 1 AS r2y
             FROM cy),
      j AS (SELECT b.source, rx.r2x, ry.r2y
            FROM base b
            JOIN rx ON rx.source = b.source AND rx.len = b.len
            JOIN ry ON ry.source = b.source AND ry.q6 = b.q6),
      m AS (SELECT source, CAST(count(*) AS HUGEINT) AS n,
              CAST(sum(r2x) AS HUGEINT) AS sx,
              CAST(sum(r2y) AS HUGEINT) AS sy,
              CAST(sum(r2x * r2x) AS HUGEINT) AS sxx,
              CAST(sum(r2y * r2y) AS HUGEINT) AS syy,
              CAST(sum(r2x * r2y) AS HUGEINT) AS sxy
            FROM j GROUP BY 1)
      SELECT source, CAST(n AS BIGINT) AS n_docs,
             round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
               / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
      FROM m"""),

    // Cramér's V effect size from the same chi-square aggregate
    // same micro-quantized chi-square aggregate; V = sqrt(chi2 /
    // (n * (min(r,c)-1))) in one fixed-shape formula
    row("stats_cramers_v", (s, d) => Stats.cramersV(s, d), """
      WITH cells AS (SELECT o_orderpriority AS a, c_mktsegment AS b,
                            count(*) AS o
                     FROM orders JOIN customer ON o_custkey = c_custkey
                     GROUP BY 1, 2),
      w AS (SELECT a, b, o,
                   sum(o) OVER (PARTITION BY a) AS r,
                   sum(o) OVER (PARTITION BY b) AS c,
                   sum(o) OVER () AS n FROM cells),
      k AS (SELECT count(DISTINCT a) AS n_a, count(DISTINCT b) AS n_b
            FROM cells),
      s AS (SELECT sum(CAST(round(pow(CAST(o AS DOUBLE)
                - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 2)
              / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
              * 1000000, 0) AS BIGINT)) AS cm,
            max(n) AS n FROM w)
      SELECT CAST(cm AS DOUBLE) / 1000000.0 AS chi2,
             CAST(n AS BIGINT) AS n,
             round(sqrt((CAST(cm AS DOUBLE) / 1000000.0)
               / (CAST(n AS DOUBLE)
                  * CAST(least(n_a, n_b) - 1 AS DOUBLE))), 6) AS v
      FROM s, k"""),

    // one-way ANOVA F across ALL sources (quantized-mean integer
    // scatter sums, one final division)
    // quantized-mean integer scatter sums (the Fisher discipline),
    // one final division for F
    row("stats_anova_quality", (s, d) => Stats.anovaQualityBySource(s, d), """
      WITH q0 AS (
        SELECT source,
          len(w) AS n_words,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM (SELECT source, text, string_split(text, ' ') AS w
              FROM documents)),
      q AS (SELECT source,
              CAST(round((least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                + least(n_words / 50.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS q6
            FROM q0),
      byg AS (SELECT source, CAST(count(*) AS BIGINT) AS ng,
                CAST(sum(q6) AS BIGINT) AS s,
                CAST(sum(q6 * q6) AS HUGEINT) AS x2
              FROM q GROUP BY 1),
      m AS (SELECT source, ng, s, x2,
              CAST(round(CAST(s AS DOUBLE) / ng) AS BIGINT) AS m6
            FROM byg),
      t AS (SELECT CAST(round(CAST(sum(s) AS DOUBLE) / sum(ng)) AS BIGINT)
              AS g6
            FROM byg),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
                CAST(sum(ng) AS BIGINT) AS n,
                CAST(sum(CAST(ng * (m6 - t.g6) * (m6 - t.g6) AS HUGEINT))
                  AS HUGEINT) AS ssb,
                CAST(sum(x2 - CAST(2 * m6 * s AS HUGEINT)
                  + CAST(ng * m6 * m6 AS HUGEINT)) AS HUGEINT) AS ssw
              FROM m CROSS JOIN t)
      SELECT k, n, CAST(ssb AS BIGINT) AS ssb, CAST(ssw AS BIGINT) AS ssw,
             round((CAST(ssb AS DOUBLE) / (k - 1))
               / (CAST(ssw AS DOUBLE) / (n - k)), 6) AS f_stat
      FROM agg"""),

    // post-hoc standardized pairwise contrasts off the same aggregate
    // same quantized means + integer MSW; per-pair one fixed-shape
    // formula; total-ordered top 10
    row("stats_anova_contrasts", (s, d) => Stats.anovaContrasts(s, d), """
      WITH q0 AS (
        SELECT source,
          len(w) AS n_words,
          len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','on'], t))) / CAST(len(w) AS DOUBLE) AS stop_raw,
          length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_raw
        FROM (SELECT source, text, string_split(text, ' ') AS w
              FROM documents)),
      q AS (SELECT source,
              CAST(round((least(stop_raw * 2.0, 1.0) * 0.4 + alpha_raw * 0.3
                + least(n_words / 50.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS q6
            FROM q0),
      byg AS (SELECT source, CAST(count(*) AS BIGINT) AS ng,
                CAST(sum(q6) AS BIGINT) AS s,
                CAST(sum(q6 * q6) AS HUGEINT) AS x2
              FROM q GROUP BY 1),
      m AS (SELECT source, ng, s, x2,
              CAST(round(CAST(s AS DOUBLE) / ng) AS BIGINT) AS m6
            FROM byg),
      msw AS (SELECT CAST(sum(x2 - CAST(2 * m6 * s AS HUGEINT)
                  + CAST(ng * m6 * m6 AS HUGEINT)) AS DOUBLE)
                / CAST(sum(ng) - count(*) AS DOUBLE) AS msw
              FROM m)
      SELECT a.source AS source_a, b.source AS source_b,
             round(CAST(a.m6 - b.m6 AS DOUBLE) / 1000000.0, 6) AS mean_diff,
             round(CAST(a.m6 - b.m6 AS DOUBLE)
               / sqrt(msw.msw * (CAST(1.0 AS DOUBLE) / a.ng
                                 + CAST(1.0 AS DOUBLE) / b.ng)), 6) AS z
      FROM m a JOIN m b ON a.source < b.source
      CROSS JOIN msw
      ORDER BY abs(round(CAST(a.m6 - b.m6 AS DOUBLE)
               / sqrt(msw.msw * (CAST(1.0 AS DOUBLE) / a.ng
                                 + CAST(1.0 AS DOUBLE) / b.ng)), 6)) DESC,
               source_a ASC, source_b ASC
      LIMIT 10"""),

    // declarative Deequ-style expectation suite: completeness,
    // uniqueness, ranges, domains, referential integrity — exact
    // violation counts, one conditional-sum scan per table
    row("quality_expectations", (s, d) => operators.Expectations.suite(s, d), """
      WITH oc AS (SELECT count(*) AS n,
                    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nc,
                    count(DISTINCT o_orderkey) AS dk,
                    sum(CASE WHEN CAST(round(o_totalprice*100) AS BIGINT) <= 0
                        THEN 1 ELSE 0 END) AS np,
                    sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                        THEN 1 ELSE 0 END) AS bs
                  FROM orders),
      lc AS (SELECT count(*) AS n,
               count(DISTINCT (l_orderkey, l_linenumber)) AS dk,
               sum(CASE WHEN CAST(round(l_quantity*100) AS BIGINT) <= 0
                   THEN 1 ELSE 0 END) AS nq,
               sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.5
                   THEN 1 ELSE 0 END) AS bd
             FROM lineitem),
      ro AS (SELECT count(*) AS v FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
      rl AS (SELECT count(*) AS v FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      rows0 AS (
        SELECT 'orders.o_custkey complete' AS "check",
               CAST(n AS BIGINT) AS n_checked,
               CAST(nc AS BIGINT) AS n_violations FROM oc
        UNION ALL SELECT 'orders.o_orderkey unique',
               CAST(n AS BIGINT), CAST(n - dk AS BIGINT) FROM oc
        UNION ALL SELECT 'orders.o_totalprice positive',
               CAST(n AS BIGINT), CAST(np AS BIGINT) FROM oc
        UNION ALL SELECT 'orders.o_orderstatus in (O,F,P)',
               CAST(n AS BIGINT), CAST(bs AS BIGINT) FROM oc
        UNION ALL SELECT 'lineitem.(l_orderkey,l_linenumber) unique',
               CAST(n AS BIGINT), CAST(n - dk AS BIGINT) FROM lc
        UNION ALL SELECT 'lineitem.l_quantity positive',
               CAST(n AS BIGINT), CAST(nq AS BIGINT) FROM lc
        UNION ALL SELECT 'lineitem.l_discount in [0,0.5]',
               CAST(n AS BIGINT), CAST(bd AS BIGINT) FROM lc
        UNION ALL SELECT 'orders.o_custkey -> customer',
               (SELECT CAST(count(*) AS BIGINT) FROM orders),
               CAST(v AS BIGINT) FROM ro
        UNION ALL SELECT 'lineitem.l_orderkey -> orders',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               CAST(v AS BIGINT) FROM rl)
      SELECT "check", n_checked, n_violations,
             CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
      FROM rows0"""),

    // NULL-bearing compound-key uniqueness with pinned cross-engine
    // semantics (NULL rows counted out explicitly, never silently)
    row("quality_expectations_nullkeys",
      (s, d) => operators.Expectations.nullKeyUniqueness(s, d), """
      WITH k AS (SELECT nullif(l_orderkey % 1000, 0) AS k1,
                        nullif(l_linenumber, 7) AS k2
                 FROM lineitem)
      SELECT 'lineitem.(k1,k2) unique among non-NULL' AS check,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN k1 IS NULL OR k2 IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_nullkey_rows,
             CAST(count(*) - sum(CASE WHEN k1 IS NULL OR k2 IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_nonnull_rows,
             CAST(count(DISTINCT (k1, k2))
               FILTER (WHERE k1 IS NOT NULL AND k2 IS NOT NULL)
               AS BIGINT) AS n_distinct_keys,
             CAST(count(*) - sum(CASE WHEN k1 IS NULL OR k2 IS NULL
                 THEN 1 ELSE 0 END)
               - count(DISTINCT (k1, k2))
                 FILTER (WHERE k1 IS NOT NULL AND k2 IS NOT NULL)
               AS BIGINT) AS n_duplicates,
             CASE WHEN count(*) = count(DISTINCT (k1, k2))
               FILTER (WHERE k1 IS NOT NULL AND k2 IS NOT NULL)
               THEN 1 ELSE 0 END AS passed
      FROM k"""),

    // functional-dependency audit: declared candidate lhs->rhs pairs,
    // exact violating-group/row counts from one rollup per candidate
    // every check replayed as exact integer counting over the same
    // tables; referential edges as NOT IN orphan counts
    // NULL semantics pinned on BOTH sides: NULL-component rows count
    // out explicitly, distinct runs over the non-NULL remainder only
    // FD audit replay: the same per-candidate two-phase rollup
    // (groupBy lhs, countDistinct rhs) folded to one audit row each
    row("quality_fd_violations", (s, d) => operators.Expectations.fdViolations(s, d),
      """
      WITH
      a1 AS (SELECT n_nationkey AS l, count(DISTINCT n_regionkey) AS d,
               count(*) AS c FROM nation GROUP BY 1),
      a2 AS (SELECT p_brand AS l, count(DISTINCT p_type) AS d,
               count(*) AS c FROM part GROUP BY 1),
      a3 AS (SELECT c_nationkey AS l, count(DISTINCT c_mktsegment) AS d,
               count(*) AS c FROM customer GROUP BY 1),
      a4 AS (SELECT o_custkey AS l, count(DISTINCT o_orderpriority) AS d,
               count(*) AS c FROM orders GROUP BY 1),
      a5 AS (SELECT o_orderdate AS l, count(DISTINCT o_orderstatus) AS d,
               count(*) AS c FROM orders GROUP BY 1),
      a6 AS (SELECT l_orderkey AS l, count(DISTINCT l_shipdate) AS d,
               count(*) AS c FROM lineitem GROUP BY 1),
      f AS (
        SELECT 'nation.n_nationkey -> n_regionkey' AS fd, * FROM a1
        UNION ALL SELECT 'part.p_brand -> p_type', * FROM a2
        UNION ALL SELECT 'customer.c_nationkey -> c_mktsegment', * FROM a3
        UNION ALL SELECT 'orders.o_custkey -> o_orderpriority', * FROM a4
        UNION ALL SELECT 'orders.o_orderdate -> o_orderstatus', * FROM a5
        UNION ALL SELECT 'lineitem.l_orderkey -> l_shipdate', * FROM a6)
      SELECT fd, CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
             CAST(sum(CASE WHEN d > 1 THEN c ELSE 0 END) AS BIGINT)
               AS n_violating_rows,
             CASE WHEN sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0
               THEN 1 ELSE 0 END AS holds
      FROM f GROUP BY fd"""),

    // k-anonymity audit of the (segment, nation) quasi-identifier
    // pure integer counting; risk as integer permille (div)
    row("privacy_k_anonymity", (s, d) => operators.Governance.kAnonymity(s, d), """
      WITH g AS (SELECT c_mktsegment, n_name, CAST(count(*) AS BIGINT) AS sz
                 FROM customer JOIN nation ON c_nationkey = n_nationkey
                 GROUP BY 1, 2)
      SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(min(sz) AS BIGINT) AS min_group_size,
             CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_below_k,
             CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_below_k,
             CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) * 1000
               // sum(sz) AS BIGINT) AS risk_permille
      FROM g"""),

    // l-diversity: per-class sensitive-value diversity + homogeneity
    // same two integer rollups: (class, sensitive) cells then class
    row("privacy_l_diversity", (s, d) => operators.Governance.lDiversity(s, d), """
      WITH cells AS (
        SELECT c_mktsegment AS mktsegment, n_name AS nation,
               CASE WHEN c_acctbal < 0 THEN 'debt'
                    WHEN c_acctbal < 5000 THEN 'mid'
                    ELSE 'high' END AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2, 3)
      SELECT mktsegment, nation,
             CAST(sum(n) AS BIGINT) AS sz,
             CAST(count(*) AS BIGINT) AS l_distinct,
             CAST(max(n) * 1000 // sum(n) AS BIGINT) AS top_share_permille,
             CASE WHEN count(*) < 2 THEN 1 ELSE 0 END AS homogeneous
      FROM cells GROUP BY 1, 2"""),

    // t-closeness: per-class EMD of the ordered sensitive distribution
    // vs the corpus marginal, exact integer permille
    // ordered-attribute EMD (Li et al.): cumulative-band counts
    // cross-multiplied against corpus totals, HUGEINT-exact, one
    // integral division to permille
    row("privacy_t_closeness", (s, d) => operators.Governance.tCloseness(s, d), """
      WITH cells AS (
        SELECT c_mktsegment AS mktsegment, n_name AS nation,
               CAST(count(*) AS BIGINT) AS sz,
               CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS cum1,
               CAST(sum(CASE WHEN c_acctbal < 5000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS cum2
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n,
                     CAST(sum(cum1) AS BIGINT) AS t1,
                     CAST(sum(cum2) AS BIGINT) AS t2
              FROM cells)
      SELECT mktsegment, nation, sz,
             CAST((abs(CAST(cum1 AS HUGEINT) * n - CAST(t1 AS HUGEINT) * sz)
                 + abs(CAST(cum2 AS HUGEINT) * n - CAST(t2 AS HUGEINT) * sz))
                * 1000 // (2 * CAST(sz AS HUGEINT) * n) AS BIGINT)
               AS t_permille
      FROM cells CROSS JOIN tot"""),

    // Laplace-mechanism noisy counts with a deterministic
    // poly-hash-seeded draw (the mechanism, oracle-replayable)
    // the identical poly-hash-seeded Laplace inverse-CDF release
    row("privacy_dp_counts", (s, d) => operators.Governance.dpEventCounts(s, d), """
      WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                 FROM events GROUP BY 1),
      h AS (SELECT event_type, n,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split(event_type || ':dp1', ''),
                  ch -> CAST(unicode(ch) AS BIGINT))),
                (acc, ch) -> (acc * 31 + ch) % 1000000007) AS hv
            FROM c),
      u AS (SELECT event_type, n,
              (CAST(hv AS DOUBLE) + 1.0) / 1000000009.0 AS u FROM h)
      SELECT event_type, n AS n_true, CAST(1.0 AS DOUBLE) AS epsilon,
             round(CAST(n AS DOUBLE)
               + CAST(-1.0 AS DOUBLE) * sign(u - CAST(0.5 AS DOUBLE))
                 * ln(CAST(1.0 AS DOUBLE)
                      - CAST(2.0 AS DOUBLE) * abs(u - CAST(0.5 AS DOUBLE))),
               6) AS noisy_count
      FROM u"""),

    // keyed sha256 pseudonymization: join-preserving one-way tokens,
    // injectivity audit + the mapping itself pinned under the hash gate
    // identical keyed-hash tokens (sha256 over the same concatenated
    // string), identical (n_events desc, user_id) top-3 cut
    row("privacy_pseudonymize", (s, d) => operators.Governance.pseudonymizeUsers(s, d),
      """
      WITH base AS (SELECT event_type, user_id,
              sha256('graft-pseu-k1:' || CAST(user_id AS VARCHAR)) AS tok
            FROM events),
      aud AS (SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(DISTINCT tok) AS n_tokens
              FROM base GROUP BY 1),
      cnt AS (SELECT event_type, user_id, tok, count(*) AS n_events
              FROM base GROUP BY 1, 2, 3),
      top AS (SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY n_events DESC, user_id ASC) AS rk FROM cnt)
      SELECT t.event_type, t.user_id, substr(t.tok, 1, 16) AS token16,
             t.n_events, a.n_users, a.n_tokens
      FROM top t JOIN aud a USING (event_type) WHERE t.rk <= 3"""),
  )
}
