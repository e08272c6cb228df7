package graft
package queries

import graft.operators.{EventOps, ScaleTechniques}
import OracleSql.c100

/** Event-stream rows, batch and streamed (`events_`). */
object EventQueries {

  /** Shared by the batch row and its streaming-executed twin: exact
    * conditional counting over events (the value-band check is
    * expected to FAIL — the long tail exceeds 250 by design).
    */
  private def eventsExpectationsOracle: String = """
      WITH a AS (SELECT count(*) AS n,
                   sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nu,
                   sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS nt,
                   sum(CASE WHEN value < 0.0 OR value > 250.0
                       THEN 1 ELSE 0 END) AS bv,
                   sum(CASE WHEN event_type NOT IN
                       ('click','view','purchase','error','signup','scroll')
                       THEN 1 ELSE 0 END) AS bt
                 FROM events),
      r AS (SELECT 'events.user_id complete' AS "check",
                   CAST(n AS BIGINT) AS n_checked,
                   CAST(nu AS BIGINT) AS n_violations FROM a
            UNION ALL SELECT 'events.ts complete',
                   CAST(n AS BIGINT), CAST(nt AS BIGINT) FROM a
            UNION ALL SELECT 'events.value in [0,250]',
                   CAST(n AS BIGINT), CAST(bv AS BIGINT) FROM a
            UNION ALL SELECT 'events.event_type in domain',
                   CAST(n AS BIGINT), CAST(bt AS BIGINT) FROM a)
      SELECT "check", n_checked, n_violations,
             CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
      FROM r"""

  /** Shared by `events_sessions_native` (batch session_window) and
    * `events_sessions_streamed` (the same aggregation executed by the
    * streaming engine): the lag/prefix-sum formulation of 30-minute
    * inactivity sessions, sid dropped.
    */
  private def sessionsNativeOracle: String = s"""
      WITH x AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      y AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
            FROM x)
      SELECT user_id, epoch_us(min(ts)) AS session_start_us,
             count(*) AS n_events, sum(${c100("value")})/100.0 AS sum_value
      FROM y GROUP BY user_id, sid"""

  /** mSPRT oracle shared by the batch row and its streamed twin. */
  private val msprtOracle: String = """
      WITH daily AS (
        SELECT epoch_us(ts) // 86400000000 AS epday,
          sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS nt,
          sum(CASE WHEN user_id % 2 = 1
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS st,
          sum(CASE WHEN user_id % 2 = 1
              THEN CAST(round(value * 100) AS HUGEINT)
                   * CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS qt,
          sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS nc,
          sum(CASE WHEN user_id % 2 = 0
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS sc,
          sum(CASE WHEN user_id % 2 = 0
              THEN CAST(round(value * 100) AS HUGEINT)
                   * CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS qc
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      cum AS (
        SELECT epday,
          sum(nt) OVER w AS cnt, sum(st) OVER w AS cst,
          sum(qt) OVER w AS cqt,
          sum(nc) OVER w AS cnc, sum(sc) OVER w AS csc,
          sum(qc) OVER w AS cqc
        FROM daily
        WINDOW w AS (ORDER BY epday
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      f AS (SELECT * FROM cum WHERE cnt > 1 AND cnc > 1),
      x AS (
        SELECT epday, cnt, cnc,
          CAST(cst AS DOUBLE) / cnt / 100.0
            - CAST(csc AS DOUBLE) / cnc / 100.0 AS eff,
          (CAST(cqt AS DOUBLE) / 10000.0
             - (CAST(cst AS DOUBLE) / 100.0) * (CAST(cst AS DOUBLE) / 100.0)
               / cnt) / cnt / CAST(cnt AS DOUBLE)
          + (CAST(cqc AS DOUBLE) / 10000.0
             - (CAST(csc AS DOUBLE) / 100.0) * (CAST(csc AS DOUBLE) / 100.0)
               / cnc) / cnc / CAST(cnc AS DOUBLE) AS v
        FROM f),
      lr AS (
        SELECT epday, cnt, cnc, eff,
          sqrt(v / (v + 100.0))
            * exp(eff * eff * 100.0 / (2.0 * v * (v + 100.0))) AS lam
        FROM x)
      SELECT epday, CAST(cnt AS BIGINT) AS n_treat,
             CAST(cnc AS BIGINT) AS n_ctrl,
             round(eff, 6) AS effect, round(lam, 6) AS lam,
             round(min(least(1.0, 1.0 / lam)) OVER
               (ORDER BY epday
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS p_always_valid
      FROM lr"""

  /** Shared by `events_tumbling` and `events_tumbling_streamed`. */
  private val tumblingOracle: String = s"""
      SELECT CAST(epoch(time_bucket(INTERVAL '10 minutes', ts)) AS BIGINT) AS w_start,
             event_type, count(*) AS n, sum(${c100("value")})/100.0 AS sum_value
      FROM events GROUP BY 1,2"""

  /** Shared by `events_attribution` and `events_attribution_streamed`:
    * Same strict (ts, event_id) row-order window; IGNORE NULLS
    * first/last over the unbounded-preceding frame, exact cents
    */
  private val attributionOracle: String = s"""
      WITH e AS (SELECT user_id, ts, event_id, event_type,
                        ${c100("value")} AS c,
                        CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END AS touch
                 FROM events),
      conv AS (SELECT event_type, c,
                 first_value(touch IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS first_touch,
                 last_value(touch IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_touch
               FROM e),
      p AS (SELECT * FROM conv WHERE event_type = 'purchase')
      SELECT 'first_touch' AS model, coalesce(first_touch, 'none') AS channel,
             CAST(count(*) AS BIGINT) AS n_conversions,
             CAST(sum(c) AS BIGINT) AS revenue_cents
      FROM p GROUP BY 2
      UNION ALL
      SELECT 'last_touch', coalesce(last_touch, 'none'),
             CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
      FROM p GROUP BY 2"""

  /** Shared by `events_ewma` and `events_ewma_streamed`:
    * List_reduce over the identically-sorted list, identical
    * fixed-association update acc + 0.3*(x - acc) -> bit-equal doubles
    */
  private val ewmaOracle: String = s"""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                        ${c100("value")} AS c FROM events),
      l AS (SELECT user_id,
                   list(CAST(c AS DOUBLE) ORDER BY us, event_id) AS xs,
                   count(*) AS n FROM e GROUP BY 1)
      SELECT user_id, n,
             round(list_reduce(xs, (acc, x) -> acc + 0.3 * (x - acc))
                   / 100.0, 6) AS ewma
      FROM l"""

  /** Shared by `events_topk_amounts` and `events_topk_amounts_streamed`. */
  private val topAmountsOracle: String = """
      SELECT event_type, event_id, value, rk FROM (
        SELECT event_type, event_id, value,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY value DESC, event_id) AS INT) AS rk
        FROM events)
      WHERE rk <= 5"""

  private val row = new Declared.Family(readsMemos = false)

  val rows: Seq[Declared] = Seq(
    // — event-time processing (SURVEY §2.11 extensions) —
    row("events_tumbling", EventOps.tumbling _, tumblingOracle),

    row("events_sliding", EventOps.sliding _, s"""
      SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)
               - k.off * INTERVAL '5 minutes') AS BIGINT) AS w_start,
             event_type, count(*) AS n, sum(${c100("value")})/100.0 AS sum_value
      FROM events CROSS JOIN (VALUES (0),(1)) k(off)
      GROUP BY 1,2"""),

    row("events_sessions", EventOps.sessions _, s"""
      WITH x AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      y AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
            FROM x)
      SELECT user_id, sid, epoch_us(min(ts)) AS session_start_us,
             count(*) AS n_events, sum(${c100("value")})/100.0 AS sum_value
      FROM y GROUP BY 1,2"""),

    // the native session_window plan must produce the same sessions the
    // analytic-window formulation does (same oracle, sid dropped)
    row("events_sessions_native", EventOps.sessionsNative _, sessionsNativeOracle),

    row("events_json_stats", EventOps.jsonStats _, """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS sum_k,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT)
               / count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k
      FROM events GROUP BY 1"""),

    // the salted two-stage aggregation must equal the plain GROUP BY
    row("events_salted_agg", (s, d) => ScaleTechniques.saltedEventAgg(s, d), s"""
      SELECT event_type, count(*) AS n,
             sum(${c100("value")})/100.0 AS sum_value
      FROM events GROUP BY 1"""),

    // first-order event-type Markov transitions per user stream
    row("events_type_transitions", EventOps.typeTransitions _, """
      WITH o AS (SELECT user_id, event_type,
                        lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS prev
                 FROM events)
      SELECT prev AS from_type, event_type AS to_type, count(*) AS n,
             round(count(*) / (sum(count(*)) OVER (PARTITION BY prev)), 6) AS p
      FROM o WHERE prev IS NOT NULL GROUP BY prev, event_type"""),

    // held-out next-event accuracy of the Markov bigram model vs the
    // majority-class baseline (80/20 user split, integer permille)
    // holdout replay: same lag pairs, same argmax tie rule, same
    // prior-only baseline, same integer permille
    row("events_markov_holdout", (s, d) => EventOps.markovHoldoutAccuracy(s, d), """
      WITH o AS (SELECT user_id, event_type AS nxt,
                        lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS prev
                 FROM events),
      p AS (SELECT user_id, prev, nxt FROM o WHERE prev IS NOT NULL),
      tr AS (SELECT prev, nxt FROM p WHERE user_id % 5 <> 4),
      model AS (SELECT prev, nxt AS predicted FROM (
                  SELECT prev, nxt, row_number() OVER (PARTITION BY prev
                    ORDER BY count(*) DESC, nxt ASC) AS rk
                  FROM tr GROUP BY prev, nxt)
                WHERE rk = 1),
      base AS (SELECT nxt AS base_pred FROM (
                 SELECT nxt, row_number() OVER (
                   ORDER BY count(*) DESC, nxt ASC) AS rk
                 FROM tr GROUP BY nxt)
               WHERE rk = 1)
      SELECT p.prev AS from_type, m.predicted,
             count(*) AS n_test,
             CAST(sum(CASE WHEN p.nxt = m.predicted THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct,
             CAST(sum(CASE WHEN p.nxt = m.predicted THEN 1 ELSE 0 END)
               * 1000 // count(*) AS BIGINT) AS acc_permille,
             CAST(sum(CASE WHEN p.nxt = b.base_pred THEN 1 ELSE 0 END)
               * 1000 // count(*) AS BIGINT) AS baseline_permille
      FROM p JOIN model m ON p.prev = m.prev CROSS JOIN base b
      WHERE p.user_id % 5 = 4
      GROUP BY 1, 2"""),

    // GSP-style length-2 sequential-pattern support: a precedes b
    // anywhere in a user's history (min/max-envelope existential)
    // envelope existential replay: same min/max rollup, same strict
    // precedence test, same permille integer division
    row("events_sequence_support", EventOps.sequenceSupport _, """
      WITH env AS (SELECT user_id, event_type,
                     min(ts) AS mn, max(ts) AS mx
                   FROM events GROUP BY 1, 2),
      tot AS (SELECT count(DISTINCT user_id) AS n_total FROM events),
      sup AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                count(*) AS n_users
              FROM env a JOIN env b ON a.user_id = b.user_id
              WHERE a.mn < b.mx GROUP BY 1, 2)
      SELECT type_a, type_b, n_users,
             n_users * 1000 // n_total AS permille
      FROM sup CROSS JOIN tot"""),

    // CUPED variance-reduced A/B readout: pooled theta off exact cent
    // moments, adjusted arm means, rho^2 reduction permille
    // CUPED replay: same cent moments, same fixed-order IEEE chain for
    // theta / adjusted means / rho^2 (num*num, never pow)
    row("events_cuped_lift", (s, d) => EventOps.cupedLift(s, d), """
      WITH ev AS (SELECT user_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS c,
                    (epoch_us(ts) // 86400000000) < 19738 AS pre
                  FROM events),
      s AS (SELECT user_id,
              sum(CASE WHEN pre THEN c ELSE 0 END) AS x,
              sum(CASE WHEN NOT pre THEN c ELSE 0 END) AS y
            FROM ev WHERE event_type = 'purchase' GROUP BY 1),
      u AS (SELECT DISTINCT user_id FROM events),
      pu AS (SELECT u.user_id, u.user_id % 2 AS arm,
               coalesce(s.x, 0) AS x, coalesce(s.y, 0) AS y
             FROM u LEFT JOIN s USING (user_id)),
      p AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            FROM pu),
      a AS (SELECT arm, count(*) AS na, sum(x) AS sxa, sum(y) AS sya
            FROM pu GROUP BY 1)
      SELECT arm, CAST(na AS BIGINT) AS n_users,
        round(CAST(sxa AS DOUBLE) / na / 100.0, 6) AS mean_x,
        round(CAST(sya AS DOUBLE) / na / 100.0, 6) AS mean_y,
        round(CAST(sya AS DOUBLE) / na / 100.0 -
          ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
          * (CAST(sxa AS DOUBLE) / na / 100.0
             - CAST(sx AS DOUBLE) / n / 100.0), 6) AS mean_y_adj,
        round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
          AS theta,
        CAST(round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
          / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
          * 1000.0) AS BIGINT) AS var_reduction_permille
      FROM a CROSS JOIN p"""),

    // difference-in-differences on the same frame: per-user post-pre
    // deltas, arm contrast, two-sample SE, 95% interval
    // DiD replay: same per-user deltas, same population variances of
    // the deltas, same fixed-order interval chain
    row("events_did_lift", (s, d) => EventOps.didLift(s, d), """
      WITH ev AS (SELECT user_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS c,
                    (epoch_us(ts) // 86400000000) < 19738 AS pre
                  FROM events),
      s AS (SELECT user_id,
              sum(CASE WHEN pre THEN c ELSE 0 END) AS x,
              sum(CASE WHEN NOT pre THEN c ELSE 0 END) AS y
            FROM ev WHERE event_type = 'purchase' GROUP BY 1),
      u AS (SELECT DISTINCT user_id FROM events),
      pu AS (SELECT u.user_id % 2 AS arm,
               coalesce(s.y, 0) - coalesce(s.x, 0) AS d
             FROM u LEFT JOIN s USING (user_id)),
      a AS (SELECT arm, count(*) AS n, sum(d) AS sd,
              sum(CAST(d AS HUGEINT) * d) AS sdd
            FROM pu GROUP BY 1),
      t AS (SELECT n AS nt, sd AS sdt, sdd AS sddt FROM a WHERE arm = 1),
      c AS (SELECT n AS nc, sd AS sdc, sdd AS sddc FROM a WHERE arm = 0)
      SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
        round((CAST(sdt AS DOUBLE) / nt - CAST(sdc AS DOUBLE) / nc)
          / 100.0, 6) AS did,
        round(sqrt(
            ((CAST(sddt AS DOUBLE) - CAST(sdt AS DOUBLE)
                * CAST(sdt AS DOUBLE) / nt) / nt) / CAST(nt AS DOUBLE)
          + ((CAST(sddc AS DOUBLE) - CAST(sdc AS DOUBLE)
                * CAST(sdc AS DOUBLE) / nc) / nc) / CAST(nc AS DOUBLE))
          / 100.0, 6) AS se,
        round((CAST(sdt AS DOUBLE) / nt - CAST(sdc AS DOUBLE) / nc)
          / 100.0 - 1.96 * (sqrt(
            ((CAST(sddt AS DOUBLE) - CAST(sdt AS DOUBLE)
                * CAST(sdt AS DOUBLE) / nt) / nt) / CAST(nt AS DOUBLE)
          + ((CAST(sddc AS DOUBLE) - CAST(sdc AS DOUBLE)
                * CAST(sdc AS DOUBLE) / nc) / nc) / CAST(nc AS DOUBLE))
          / 100.0), 6) AS lo95,
        round((CAST(sdt AS DOUBLE) / nt - CAST(sdc AS DOUBLE) / nc)
          / 100.0 + 1.96 * (sqrt(
            ((CAST(sddt AS DOUBLE) - CAST(sdt AS DOUBLE)
                * CAST(sdt AS DOUBLE) / nt) / nt) / CAST(nt AS DOUBLE)
          + ((CAST(sddc AS DOUBLE) - CAST(sdc AS DOUBLE)
                * CAST(sdc AS DOUBLE) / nc) / nc) / CAST(nc AS DOUBLE))
          / 100.0), 6) AS hi95
      FROM t CROSS JOIN c"""),

    // mSPRT always-valid monitor: running effect, mixture likelihood
    // ratio, monotone peeking-safe p per experiment day
    row("events_msprt_monitor", (s, d) => EventOps.msprtMonitor(s, d), msprtOracle),

    // the NINETEENTH streaming-executed row: the same per-day moment
    // rollup maintained as complete-mode aggregation state, the Λ
    // chain read off the drained state; shares the batch oracle
    // mSPRT replay: same daily cent/HUGEINT rollup, same cumulative
    // windows over the calendar-bounded day relation, same Λ chain
    // (streamed twin shares it: the stream maintains the identical
    // daily moment state, so the chain output matches bit-for-bit)
    row("events_msprt_monitor_streamed", (s, d) =>
      graft.streaming.EventStream.msprtMonitorStreamed(s, d), msprtOracle),

    // sample-ratio-mismatch guardrail: 1-dof chi-square of the arm
    // split vs 50/50 against the 3.841 critical value
    // SRM replay: same distinct-user arm counts, same chi-square chain
    row("events_srm_check", (s, d) => EventOps.srmCheck(s, d), """
      WITH a AS (SELECT
          sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS nt,
          sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS nc
        FROM (SELECT DISTINCT user_id FROM events))
      SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
        round((CAST(nt AS DOUBLE) - CAST(nt + nc AS DOUBLE) / 2.0)
            * (CAST(nt AS DOUBLE) - CAST(nt + nc AS DOUBLE) / 2.0)
            / (CAST(nt + nc AS DOUBLE) / 2.0)
          + (CAST(nc AS DOUBLE) - CAST(nt + nc AS DOUBLE) / 2.0)
            * (CAST(nc AS DOUBLE) - CAST(nt + nc AS DOUBLE) / 2.0)
            / (CAST(nt + nc AS DOUBLE) / 2.0), 6) AS chi2,
        CASE WHEN (CAST(nt AS DOUBLE) - CAST(nt + nc AS DOUBLE) / 2.0)
            * (CAST(nt AS DOUBLE) - CAST(nt + nc AS DOUBLE) / 2.0)
            / (CAST(nt + nc AS DOUBLE) / 2.0)
          + (CAST(nc AS DOUBLE) - CAST(nt + nc AS DOUBLE) / 2.0)
            * (CAST(nc AS DOUBLE) - CAST(nt + nc AS DOUBLE) / 2.0)
            / (CAST(nt + nc AS DOUBLE) / 2.0) > 3.841
          THEN 1 ELSE 0 END AS srm_flag
      FROM a"""),

    // DAU/WAU/MAU + stickiness: trailing distincts via the bounded
    // calendar fan-out of the (user, day) activity relation
    // engagement replay: same distinct activity relation, same
    // 30-day calendar fan-out, same conditional distincts
    row("events_dau_wau_mau", (s, d) => EventOps.dauWauMau(s, d), """
      WITH act AS (SELECT DISTINCT user_id,
                     epoch_us(ts) // 86400000000 AS d
                   FROM events),
      days AS (SELECT DISTINCT d AS day FROM act),
      fan AS (SELECT a.user_id, a.d, y.day
              FROM act a JOIN days y
                ON y.day >= a.d AND y.day <= a.d + 29)
      SELECT day AS epday,
             CAST(count(DISTINCT CASE WHEN d = day THEN user_id END)
               AS BIGINT) AS dau,
             CAST(count(DISTINCT CASE WHEN day - d <= 6 THEN user_id END)
               AS BIGINT) AS wau,
             CAST(count(DISTINCT user_id) AS BIGINT) AS mau,
             count(DISTINCT CASE WHEN d = day THEN user_id END) * 1000
               // count(DISTINCT user_id) AS stickiness_permille
      FROM fan GROUP BY 1"""),

    // minimum detectable effect at 80% power / 5% size from the
    // observed post-period variance and arm sizes
    // MDE replay: same zero-filled post-period cent moments, same
    // pooled variance, same 2.8-sigma chain
    row("events_mde", (s, d) => EventOps.mdeEstimate(s, d), """
      WITH ev AS (SELECT user_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS c,
                    (epoch_us(ts) // 86400000000) < 19738 AS pre
                  FROM events),
      s AS (SELECT user_id, sum(c) AS y FROM ev
            WHERE event_type = 'purchase' AND NOT pre GROUP BY 1),
      u AS (SELECT DISTINCT user_id FROM events),
      pu AS (SELECT u.user_id % 2 AS arm, coalesce(s.y, 0) AS y
             FROM u LEFT JOIN s USING (user_id)),
      m AS (SELECT count(*) AS n,
              sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
              sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc,
              sum(y) AS sy, sum(CAST(y AS HUGEINT) * y) AS syy,
              sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS syc
            FROM pu)
      SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
        round(sqrt(
            ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n)
              / CAST(nt AS DOUBLE)
          + ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n)
              / CAST(nc AS DOUBLE)) / 100.0, 6) AS se,
        round(2.8 * (sqrt(
            ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n)
              / CAST(nt AS DOUBLE)
          + ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n)
              / CAST(nc AS DOUBLE)) / 100.0), 6) AS mde_abs,
        CAST(round(2.8 * (sqrt(
            ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n)
              / CAST(nt AS DOUBLE)
          + ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n)
              / CAST(nc AS DOUBLE)) / 100.0) * 1000.0
          / (CAST(syc AS DOUBLE) / nc / 100.0)) AS BIGINT)
          AS mde_rel_permille
      FROM m"""),

    // CUSUM changepoint per type over daily revenue (exact-integer S)
    // integer-cleared CUSUM replay: S' = n*cumsum - t*total, all BIGINT
    row("events_cusum_changepoint", EventOps.cusumChangepoint _, s"""
      WITH daily AS (SELECT event_type, (epoch_us(ts) // 86400000000) AS day,
                            CAST(sum(${c100("value")}) AS BIGINT) AS dc
                     FROM events GROUP BY 1, 2),
      tot AS (SELECT event_type, CAST(sum(dc) AS BIGINT) AS sx, count(*) AS nd
              FROM daily GROUP BY 1),
      sc AS (SELECT d.event_type, d.day, tt.nd, tt.sx,
                    row_number() OVER (PARTITION BY d.event_type
                      ORDER BY d.day) AS ti,
                    sum(d.dc) OVER (PARTITION BY d.event_type ORDER BY d.day
                      ROWS UNBOUNDED PRECEDING) AS cum
             FROM daily d JOIN tot tt USING (event_type)),
      s2 AS (SELECT event_type, day, nd, (nd * cum - ti * sx) AS s FROM sc),
      pick AS (SELECT event_type, day, nd, s,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY abs(s) DESC, day) AS rk FROM s2)
      SELECT event_type, day AS change_day,
             round(abs(s) / (nd * 100.0), 6) AS peak_dev
      FROM pick WHERE rk = 1"""),

    // MATCH_RECOGNIZE-lite: per-user sequence regex ('v+p' conversions)
    row("events_pattern_match", EventOps.patternMatch _, """
      WITH s AS (
        SELECT user_id, count(*) AS n_events,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                 AS seq
        FROM events GROUP BY user_id)
      SELECT user_id, n_events,
             CAST(len(regexp_extract_all(seq, 'v+p')) AS BIGINT)
               AS n_conversions,
             CAST(list_max(list_transform(regexp_extract_all(seq, 'v+'),
               x -> len(x))) AS BIGINT) AS max_view_run
      FROM s"""),

    row("events_quantiles", EventOps.valueQuantiles _, s"""
      SELECT event_type,
             round(quantile_cont(${c100("value")}, 0.5) / 100.0, 6) AS p50,
             round(quantile_cont(${c100("value")}, 0.9) / 100.0, 6) AS p90,
             max(${c100("value")}) / 100.0 AS max_value
      FROM events GROUP BY 1"""),

    // deterministic mergeable sketch (histogram state + in-bucket
    // interpolation) — replaces the former percentile_approx row,
    // whose sketch was merge-order-sensitive and could never sit
    // under the hash gate; percentile_approx stays as engine surface,
    // rank-error gated against the exact quantiles in EventOpsSpec
    // identical histogram state + in-bucket linear interpolation:
    // exact integers until one fixed-order double division per type
    row("events_quantiles_sketch", (s, d) => EventOps.valueQuantilesSketch(s, d), s"""
      WITH hb AS (SELECT event_type, ${c100("value")} AS c FROM events),
      g AS (SELECT event_type, CAST(floor(c / 500.0) AS BIGINT) AS b,
                   count(*) AS n, max(c) AS mx
            FROM hb GROUP BY 1, 2),
      c2 AS (SELECT *,
               sum(n) OVER (PARTITION BY event_type ORDER BY b) AS cum,
               sum(n) OVER (PARTITION BY event_type) AS total
             FROM g),
      r AS (SELECT *, (total + 1) // 2 AS r50, (9 * total + 9) // 10 AS r90
            FROM c2)
      SELECT event_type,
             min(CASE WHEN cum >= r50 AND cum - n < r50 THEN
               round((CAST(b * 500 AS DOUBLE)
                 + CAST((r50 - cum + n) * 500 AS DOUBLE) / CAST(n AS DOUBLE))
                 / 100.0, 6) END) AS p50,
             min(CASE WHEN cum >= r90 AND cum - n < r90 THEN
               round((CAST(b * 500 AS DOUBLE)
                 + CAST((r90 - cum + n) * 500 AS DOUBLE) / CAST(n AS DOUBLE))
                 / 100.0, 6) END) AS p90,
             max(mx) / 100.0 AS max_value
      FROM r GROUP BY 1"""),

    // the deterministic bounded-error leg: fixed-width histogram +
    // integer rank arithmetic -> guaranteed enclosing interval, under
    // the hash gate (the sketch leg above stays rows-only)
    // same fixed-width binning, cumulative ranks, and integer ceil-div
    // rank targets as the engine — all integer until the final /100.0
    row("events_quantiles_hist", (s, d) => EventOps.valueQuantilesHistogram(s, d), s"""
      WITH hb AS (SELECT event_type,
                         CAST(floor(${c100("value")} / 500.0) AS BIGINT) AS b
                  FROM events),
      g AS (SELECT event_type, b, count(*) AS n FROM hb GROUP BY 1, 2),
      c AS (SELECT *,
              sum(n) OVER (PARTITION BY event_type ORDER BY b) AS cum,
              sum(n) OVER (PARTITION BY event_type) AS total
            FROM g),
      r AS (SELECT *, (total + 1) // 2 AS r50, (9 * total + 9) // 10 AS r90
            FROM c)
      SELECT event_type,
             min(CASE WHEN cum >= r50 THEN b END) * 500 / 100.0 AS p50_lo,
             (min(CASE WHEN cum >= r50 THEN b END) + 1) * 500 / 100.0 AS p50_hi,
             min(CASE WHEN cum >= r90 THEN b END) * 500 / 100.0 AS p90_lo,
             (min(CASE WHEN cum >= r90 THEN b END) + 1) * 500 / 100.0 AS p90_hi
      FROM r GROUP BY 1"""),

    row("events_funnel", EventOps.funnel _, """
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      fv AS (SELECT user_id, min(us) AS fv_us FROM e
             WHERE event_type = 'view' GROUP BY 1),
      fc AS (SELECT e.user_id, min(us) AS fc_us FROM e JOIN fv USING (user_id)
             WHERE event_type = 'click' AND us > fv_us GROUP BY 1),
      fp AS (SELECT e.user_id, min(us) AS fp_us FROM e JOIN fc USING (user_id)
             WHERE event_type = 'purchase' AND us > fc_us GROUP BY 1)
      SELECT fv.user_id, fv_us, fc_us, fp_us,
             CAST(1 + CASE WHEN fc_us IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN fp_us IS NULL THEN 0 ELSE 1 END AS INT) AS stage
      FROM fv LEFT JOIN fc USING (user_id) LEFT JOIN fp USING (user_id)"""),

    // materialized-view refresh algebra: two independent partial states
    // merged state-to-state; oracle = the full recompute
    // full recompute — the incremental query must merge its two partial
    // states to exactly this
    row("events_incremental_agg", EventOps.incrementalAgg _, s"""
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
             count(*) AS n,
             sum(${c100("value")}) / 100.0 AS sum_value,
             min(${c100("value")}) / 100.0 AS min_value,
             max(${c100("value")}) / 100.0 AS max_value,
             round(CAST(sum(${c100("value")}) AS DOUBLE) / count(*) / 100.0, 6)
               AS avg_value
      FROM events GROUP BY 1, 2"""),

    // triangular retention matrix at day granularity
    row("events_retention_cohorts", EventOps.retentionCohorts _, """
      WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      c AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1)
      SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
             CAST(date_diff('day', cohort, day) AS INT) AS offset_days,
             count(DISTINCT e.user_id) AS n_users
      FROM e JOIN c USING (user_id)
      GROUP BY 1, 2"""),

    // fixed-width value histogram (50.00-wide buckets)
    row("events_histogram", (s, d) => EventOps.histogram(s, d), s"""
      SELECT event_type,
             CAST(floor(CAST(${c100("value")} AS DOUBLE) / 5000) AS BIGINT)
               AS bucket,
             CAST(floor(CAST(${c100("value")} AS DOUBLE) / 5000) AS BIGINT)
               * 5000 / 100.0 AS lo_value,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3"""),

    // trailing 7-day rolling aggregates: the RANGE-frame window form
    row("events_rolling_7d", EventOps.rolling7d _, s"""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                            count(*) AS n, sum(${c100("value")}) AS s
                     FROM events GROUP BY 1, 2),
      d2 AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS epday
             FROM daily)
      SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
             s / 100.0 AS sum_value,
             sum(s) OVER w / 100.0 AS roll7_sum,
             round(CAST(sum(s) OVER w AS DOUBLE) / (sum(n) OVER w) / 100.0, 6)
               AS roll7_avg_event
      FROM d2
      WINDOW w AS (PARTITION BY event_type ORDER BY epday
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"""),

    // supervised lag-feature table for the forecasting ladder (y, lag1,
    // lag7, leak-free trailing-7 mean; first-week NULLs kept explicit)
    row("events_lag_features", EventOps.lagFeatures _, s"""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                            sum(${c100("value")}) AS s
                     FROM events GROUP BY 1, 2),
      d2 AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS epday
             FROM daily)
      SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
             s / 100.0 AS y,
             max(s) OVER a1 / 100.0 AS lag1,
             max(s) OVER a7 / 100.0 AS lag7,
             round(CAST(sum(s) OVER t AS DOUBLE)
               / (count(s) OVER t) / 100.0, 6) AS trail7_mean
      FROM d2
      WINDOW a1 AS (PARTITION BY event_type ORDER BY epday
                    RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING),
             a7 AS (PARTITION BY event_type ORDER BY epday
                    RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING),
             t AS (PARTITION BY event_type ORDER BY epday
                   RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)"""),

    // streamable expectation checks (conditional-sum state) in batch
    row("events_expectations", (sp, d) =>
      graft.streaming.EventStream.eventsExpectations(Tables.events(sp, d)),
      eventsExpectationsOracle),

    // the FIFTEENTH streaming-executed row: the same check sheet
    // maintained by the engine's global aggregation state (complete
    // mode); shares the batch oracle
    row("events_expectations_streamed", (sp, d) =>
      graft.streaming.EventStream.expectationsStreamed(sp, d), eventsExpectationsOracle),

    // gaps-and-islands change-point segmentation per user
    row("events_state_islands", EventOps.stateIslands _, """
      WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us
                 FROM events),
      f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w <> event_type
                           THEN 1 ELSE 0 END AS chg
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
            FROM f)
      SELECT user_id, CAST(island AS BIGINT) AS island,
             min(event_type) AS event_type,
             min(us) AS start_us, max(us) AS end_us, count(*) AS n_events
      FROM i GROUP BY user_id, island"""),

    // robust mean: values clamped to exact [p05, p95] before averaging
    // the mean is assembled from exact pieces (BIGINT in-range sum +
    // clamp-count × bound) in one fixed-association double expression —
    // no cross-row float accumulation to diverge between engines
    row("events_winsorized", (s, d) => EventOps.winsorizedMean(s, d), s"""
      WITH e AS (SELECT event_type, ${c100("value")} AS c FROM events),
      b AS (SELECT event_type, quantile_cont(c, 0.05) AS blo,
                   quantile_cont(c, 0.95) AS bhi FROM e GROUP BY 1)
      SELECT event_type, count(*) AS n,
             round((sum(CASE WHEN c >= blo AND c <= bhi THEN c ELSE 0 END)
                    + sum(CASE WHEN c < blo THEN 1 ELSE 0 END) * blo
                    + sum(CASE WHEN c > bhi THEN 1 ELSE 0 END) * bhi)
                   / count(*) / 100.0, 6) AS wmean
      FROM e JOIN b USING (event_type) GROUP BY event_type, blo, bhi"""),

    // OHLC bars: first/last by (ts,event_id) via partial-aggregatable
    // min_by/max_by — no window pass, no per-bar sort
    // open/close via first_value/last_value under the same total
    // (us, event_id) order the Spark min_by/max_by struct key uses;
    // all four prices are selected cent values — no float accumulation
    row("events_ohlc", (s, d) => EventOps.ohlcBars(s, d), s"""
      WITH e AS (SELECT event_type, epoch_us(ts) AS us, event_id,
                        ${c100("value")} AS c FROM events),
      h AS (SELECT *, CAST(floor(CAST(us AS DOUBLE) / 3600000000.0)
                           AS BIGINT) AS hour FROM e),
      w AS (SELECT event_type, hour, c,
                   first_value(c) OVER
                     (PARTITION BY event_type, hour ORDER BY us, event_id)
                     AS o,
                   last_value(c) OVER
                     (PARTITION BY event_type, hour ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS cl
            FROM h)
      SELECT event_type, hour, min(o) / 100.0 AS open,
             max(c) / 100.0 AS high, min(c) / 100.0 AS low,
             min(cl) / 100.0 AS close, count(*) AS n
      FROM w GROUP BY event_type, hour"""),

    // distinct-over-window idiom as first-occurrence flag + running sum
    // same first-occurrence-flag construction (DuckDB CAN window a
    // DISTINCT count, but per-frame re-dedup is the plan that dies at
    // scale — both engines run the flag + running-sum form instead)
    row("events_cumulative_distinct", EventOps.cumulativeDistinctUsers _, """
      WITH tud AS (SELECT DISTINCT event_type, user_id,
                          CAST(ts AS DATE) AS day FROM events),
      f AS (SELECT event_type, day,
                   CASE WHEN row_number() OVER
                     (PARTITION BY event_type, user_id ORDER BY day) = 1
                     THEN 1 ELSE 0 END AS is_first
            FROM tud),
      d AS (SELECT event_type, day, sum(is_first) AS new_users,
                   count(*) AS active_users
            FROM f GROUP BY 1, 2)
      SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
             CAST(new_users AS BIGINT) AS new_users, active_users,
             CAST(sum(new_users) OVER
               (PARTITION BY event_type ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_distinct_users
      FROM d"""),

    // diurnal profile: hour-of-day rollup per type
    // hour-of-day rollup; exact-sum average
    row("events_seasonality", EventOps.hourlySeasonality _, s"""
      SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS hod,
             count(*) AS n,
             round(CAST(sum(${c100("value")}) AS DOUBLE) / count(*)
                   / 100.0, 6) AS avg_value
      FROM events GROUP BY 1, 2"""),

    // seasonal-naive forecast of the last day + backtest error
    // same two rollups and single-op error arithmetic
    row("events_forecast_naive", EventOps.seasonalNaiveForecast _, s"""
      WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
                        CAST(extract(hour FROM ts) AS INT) AS hod,
                        ${c100("value")} AS c FROM events),
      mx AS (SELECT max(day) AS dmax FROM e),
      hist AS (SELECT event_type, hod, sum(c) AS s, count(*) AS n
               FROM e, mx WHERE day < dmax GROUP BY 1, 2),
      actual AS (SELECT event_type, hod, sum(c) AS sa, count(*) AS na
                 FROM e, mx WHERE day = dmax GROUP BY 1, 2)
      SELECT a.event_type, a.hod,
             round(CAST(a.sa AS DOUBLE) / a.na / 100.0, 6) AS actual_avg,
             round(CAST(h.s AS DOUBLE) / h.n / 100.0, 6) AS forecast_avg,
             round(abs(round(CAST(a.sa AS DOUBLE) / a.na / 100.0, 6)
                       - round(CAST(h.s AS DOUBLE) / h.n / 100.0, 6)), 6)
               AS abs_err
      FROM actual a JOIN hist h USING (event_type, hod)"""),

    // day-over-day deltas over the daily rollup
    // lag over the identical daily rollup; pct is one division of
    // exact cent sums
    row("events_day_over_day", EventOps.dayOverDayMovers _, s"""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                            sum(${c100("value")}) AS s, count(*) AS n
                     FROM events GROUP BY 1, 2),
      l AS (SELECT *, lag(s) OVER (PARTITION BY event_type ORDER BY day)
                        AS prev_s
            FROM daily)
      SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
             s / 100.0 AS sum_value, prev_s / 100.0 AS prev_sum_value,
             (s - prev_s) / 100.0 AS delta,
             round(CAST(s - prev_s AS DOUBLE) / prev_s * 100.0, 6)
               AS pct_change
      FROM l"""),

    // statistical outlier screen: z-scores from exact BIGINT moment sums
    // z-scores from exact BIGINT moment sums; the z expression below is
    // associated EXACTLY like the Spark column (same IEEE op order), so
    // the unrounded > 2.5 comparison agrees bit-for-bit
    row("events_anomaly_zscore", (s, d) => EventOps.anomalyZscore(s, d), s"""
      WITH e AS (SELECT event_type, event_id, ${c100("value")} AS c
                 FROM events),
      st AS (SELECT event_type, count(*) AS n, sum(c) AS s,
                    sum(c * c) AS ss FROM e GROUP BY 1)
      SELECT event_type, event_id, c / 100.0 AS value,
             round((CAST(c AS DOUBLE) * n - s)
                   / (CAST(n AS DOUBLE)
                      * sqrt((CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s)
                             / (CAST(n AS DOUBLE) * (n - 1)))), 6) AS z
      FROM e JOIN st USING (event_type)
      WHERE abs((CAST(c AS DOUBLE) * n - s)
                / (CAST(n AS DOUBLE)
                   * sqrt((CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s)
                          / (CAST(n AS DOUBLE) * (n - 1))))) > 2.5"""),

    // robust twin: modified z-score on exact-integer median/MAD
    // pieces — the detector that survives heavy tails (50% breakdown)
    // median/MAD via the x2 exact-interpolation trick; one fixed
    // expression order for the modified z
    row("events_anomaly_mad", (s, d) => EventOps.anomalyMad(s, d), s"""
      WITH e AS (SELECT event_type, event_id, ${c100("value")} AS c
                 FROM events),
      m AS (SELECT event_type,
                   CAST(round(quantile_cont(c, 0.5) * 2) AS BIGINT) AS med2
            FROM e GROUP BY 1),
      d AS (SELECT e.event_type, e.event_id, e.c, m.med2,
                   abs(e.c * 2 - m.med2) AS d2
            FROM e JOIN m USING (event_type)),
      md AS (SELECT event_type,
                    CAST(round(quantile_cont(d2, 0.5) * 2) AS BIGINT) AS mad4
             FROM d GROUP BY 1)
      SELECT event_type, event_id, c / 100.0 AS value,
             round(0.6745 * (CAST(c AS DOUBLE) * 2 - med2) * 2 / mad4, 6)
               AS mz
      FROM d JOIN md USING (event_type)
      WHERE mad4 > 0
        AND abs(0.6745 * (CAST(c AS DOUBLE) * 2 - med2) * 2 / mad4) > 3.5"""),

    // Holt level+trend smoothing + h-step forecast over the daily
    // rollup (sorted-fold recursion, the ewma discipline)
    // the identical day-ordered recursion replayed as a recursive CTE
    // (DuckDB 1.0's list_reduce mishandles struct accumulators, so the
    // state threads through (i, l, t) rows instead)
    row("events_holt_forecast", (s, d) => EventOps.holtForecast(s, d), s"""
      WITH RECURSIVE daily AS (SELECT event_type,
                            CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                              AS day,
                            ${c100("value")} AS c
                     FROM events),
      d2 AS (SELECT event_type, day, sum(c) AS dc
             FROM daily GROUP BY 1, 2),
      idx AS (SELECT event_type,
                     CAST(row_number() OVER (PARTITION BY event_type
                       ORDER BY day) AS BIGINT) AS i,
                     CAST(dc AS DOUBLE) / 100.0 AS x
              FROM d2),
      nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
             FROM idx GROUP BY 1),
      rec(event_type, i, l, t) AS (
        SELECT a.event_type, CAST(2 AS BIGINT), a.x, b.x - a.x
        FROM idx a JOIN idx b USING (event_type)
        WHERE a.i = 1 AND b.i = 2
        UNION ALL
        SELECT r.event_type, r.i + 1,
               CAST(0.5 AS DOUBLE) * d.x
                 + CAST(0.5 AS DOUBLE) * (r.l + r.t),
               CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * d.x
                 + CAST(0.5 AS DOUBLE) * (r.l + r.t)) - r.l)
                 + CAST(0.5 AS DOUBLE) * r.t
        FROM rec r JOIN idx d ON d.event_type = r.event_type AND d.i = r.i)
      SELECT r.event_type, nn.nd AS n_days,
             round(r.l, 6) AS level, round(r.t, 6) AS trend,
             round(r.l + CAST(3.0 AS DOUBLE) * r.t, 6) AS forecast_h3
      FROM rec r JOIN nn USING (event_type) WHERE r.i = nn.nd + 1"""),

    // additive Holt-Winters (level+trend+weekly seasonality): sorted
    // fold threading an m-double seasonal ring, exact integer init
    // the identical triple-smoothing recursion as a recursive CTE
    // threading (i, l, b, seasonal ring as a LIST column); integer
    // init sums, every double op in the same written order
    row("events_holt_winters", (s, d) => EventOps.holtWintersForecast(s, d), s"""
      WITH RECURSIVE daily AS (SELECT event_type,
                            CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                              AS day,
                            ${c100("value")} AS c
                     FROM events),
      d2 AS (SELECT event_type, day, sum(c) AS dc
             FROM daily GROUP BY 1, 2),
      idx AS (SELECT event_type,
                     CAST(row_number() OVER (PARTITION BY event_type
                       ORDER BY day) AS BIGINT) AS i,
                     CAST(dc AS BIGINT) AS c,
                     CAST(dc AS DOUBLE) / 100.0 AS x
              FROM d2),
      nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
             FROM idx GROUP BY 1),
      i1 AS (SELECT event_type,
               CAST(sum(CASE WHEN i <= 7 THEN c ELSE 0 END) AS BIGINT)
                 AS sc1,
               CAST(sum(CASE WHEN i > 7 AND i <= 14 THEN c ELSE 0 END)
                 AS BIGINT) AS sc2
             FROM idx GROUP BY 1),
      lb AS (SELECT event_type,
               CAST(sc1 AS DOUBLE) / 100.0 / 7.0 AS lm,
               CAST(sc2 - sc1 AS DOUBLE) / 100.0 / 49.0 AS bm
             FROM i1),
      s0 AS (SELECT i.event_type,
               list(CAST(i.c AS DOUBLE) / 100.0 - lb.lm ORDER BY i.i) AS s
             FROM idx i JOIN lb ON lb.event_type = i.event_type
             WHERE i.i <= 7 GROUP BY i.event_type),
      rec(event_type, i, l, b, s) AS (
        SELECT lb.event_type, CAST(7 AS BIGINT), lb.lm, lb.bm, s0.s
        FROM lb JOIN s0 USING (event_type) JOIN nn USING (event_type)
        WHERE nn.nd >= 14
        UNION ALL
        SELECT r.event_type, r.i + 1,
          CAST(0.5 AS DOUBLE) * (d.x - r.s[1])
            + CAST(0.5 AS DOUBLE) * (r.l + r.b),
          CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * (d.x - r.s[1])
              + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
            + CAST(0.5 AS DOUBLE) * r.b,
          r.s[2:] || [CAST(0.5 AS DOUBLE) * (d.x
              - (CAST(0.5 AS DOUBLE) * (d.x - r.s[1])
                 + CAST(0.5 AS DOUBLE) * (r.l + r.b)))
            + CAST(0.5 AS DOUBLE) * r.s[1]]
        FROM rec r JOIN idx d ON d.event_type = r.event_type
          AND d.i = r.i + 1)
      SELECT r.event_type, nn.nd AS n_days,
             round(r.l, 6) AS level, round(r.b, 6) AS trend,
             round(r.l + CAST(3.0 AS DOUBLE) * r.b + r.s[3], 6)
               AS forecast_h3
      FROM rec r JOIN nn USING (event_type) WHERE r.i = nn.nd"""),

    // rolling-origin one-step MAE of naive/EWMA/Holt over the last 7
    // days: ONE fold threads all three model states + error sums
    // the identical three-model recursion as one recursive CTE
    // threading (l, t, e, prev) plus micro-quantized error sums
    row("events_forecast_backtest", (s, d) => EventOps.forecastBacktest(s, d), s"""
      WITH RECURSIVE daily AS (SELECT event_type,
                            CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                              AS day,
                            ${c100("value")} AS c
                     FROM events),
      d2 AS (SELECT event_type, day, sum(c) AS dc
             FROM daily GROUP BY 1, 2),
      idx AS (SELECT event_type,
                     CAST(row_number() OVER (PARTITION BY event_type
                       ORDER BY day) AS BIGINT) AS i,
                     CAST(dc AS DOUBLE) / 100.0 AS x
              FROM d2),
      nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
             FROM idx GROUP BY 1),
      rec(event_type, i, l, t, e, prev, sn, se, sh) AS (
        SELECT a.event_type, CAST(2 AS BIGINT), a.x, b.x - a.x, a.x, a.x,
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM idx a JOIN idx b USING (event_type)
        JOIN nn USING (event_type)
        WHERE a.i = 1 AND b.i = 2 AND nn.nd >= 14
        UNION ALL
        SELECT r.event_type, r.i + 1,
          CAST(0.5 AS DOUBLE) * d.x
            + CAST(0.5 AS DOUBLE) * (r.l + r.t),
          CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * d.x
              + CAST(0.5 AS DOUBLE) * (r.l + r.t)) - r.l)
            + CAST(0.5 AS DOUBLE) * r.t,
          r.e + CAST(0.5 AS DOUBLE) * (d.x - r.e),
          d.x,
          r.sn + CASE WHEN d.i >= nn.nd - 6 THEN
            CAST(round(abs(d.x - r.prev) * 1000000) AS BIGINT)
            ELSE 0 END,
          r.se + CASE WHEN d.i >= nn.nd - 6 THEN
            CAST(round(abs(d.x - r.e) * 1000000) AS BIGINT)
            ELSE 0 END,
          r.sh + CASE WHEN d.i >= nn.nd - 6 THEN
            CAST(round(abs(d.x - (r.l + r.t)) * 1000000) AS BIGINT)
            ELSE 0 END
        FROM rec r JOIN idx d ON d.event_type = r.event_type
          AND d.i = r.i
        JOIN nn ON nn.event_type = r.event_type)
      SELECT r.event_type, m.model, CAST(7 AS BIGINT) AS n_evals,
             round(CAST(CASE m.model WHEN 'naive' THEN r.sn
                                     WHEN 'ewma' THEN r.se
                                     ELSE r.sh END AS DOUBLE)
               / 7.0 / 1000000.0, 6) AS mae
      FROM rec r JOIN nn USING (event_type)
      CROSS JOIN (SELECT unnest(['naive', 'ewma', 'holt']) AS model) m
      WHERE r.i = nn.nd + 1"""),

    // 7-row rolling median (x2 exact interpolation over cent sums)
    // x2 exact-interpolated rolling median over the same centered-7
    // ROWS frame, full windows only
    row("events_rolling_median", (s, d) => EventOps.rollingMedian(s, d), s"""
      WITH daily AS (SELECT event_type,
                       CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                         AS day,
                       ${c100("value")} AS c
                     FROM events),
      d2 AS (SELECT event_type, day, CAST(sum(c) AS BIGINT) AS daily_cents
             FROM daily GROUP BY 1, 2),
      ma AS (SELECT event_type, day, daily_cents,
               CAST(round(quantile_cont(daily_cents, 0.5) OVER w * 2)
                 AS BIGINT) AS med2,
               CAST(count(*) OVER w AS BIGINT) AS nw
             FROM d2
             WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
      SELECT event_type, day, daily_cents, med2 FROM ma WHERE nw = 7"""),

    // Kaplan-Meier survival over user lifetimes: ordered prefix-slice
    // factor folds, identical in both engines
    // same ordered factor list; survival = left fold of the prefix
    // slice, seeded 1.0, in identical order
    row("events_kaplan_meier", (s, d) => EventOps.kaplanMeier(s, d), """
      WITH life AS (SELECT user_id,
                      CAST(max(day) - min(day) AS BIGINT) AS lt
                    FROM (SELECT user_id,
                            CAST(floor(epoch_us(ts) / 86400000000)
                              AS BIGINT) AS day
                          FROM events)
                    GROUP BY user_id),
      hist AS (SELECT lt, CAST(count(*) AS BIGINT) AS d
               FROM life GROUP BY 1),
      steps AS (SELECT lt, d,
                  CAST(sum(d) OVER (ORDER BY lt ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
                FROM hist),
      f AS (SELECT lt, d, n,
              CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE) AS f
            FROM steps),
      packed AS (SELECT list(f ORDER BY lt) AS fs FROM f),
      idx AS (SELECT lt, d, n,
                CAST(row_number() OVER (ORDER BY lt) AS BIGINT) AS i
              FROM f)
      SELECT x.lt AS lifetime_days, x.n AS n_risk, x.d AS n_churn,
             round(list_reduce(
               list_prepend(CAST(1.0 AS DOUBLE),
                 p.fs[1:CAST(x.i AS INT)]),
               (acc, y) -> acc * y), 6) AS survival
      FROM idx x CROSS JOIN packed p"""),

    // Nelson-Aalen cumulative hazard: micro-quantized step hazards,
    // order-free integer prefix sum, one final division
    // micro-quantized step hazards, integer prefix sum, one division
    row("events_nelson_aalen", (s, d) => EventOps.nelsonAalen(s, d), """
      WITH life AS (SELECT user_id,
                      CAST(max(day) - min(day) AS BIGINT) AS lt
                    FROM (SELECT user_id,
                            CAST(floor(epoch_us(ts) / 86400000000)
                              AS BIGINT) AS day
                          FROM events)
                    GROUP BY user_id),
      hist AS (SELECT lt, CAST(count(*) AS BIGINT) AS d
               FROM life GROUP BY 1),
      steps AS (SELECT lt, d,
                  CAST(sum(d) OVER (ORDER BY lt ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
                FROM hist),
      h AS (SELECT lt, d, n,
              CAST(round(CAST(d AS DOUBLE) / CAST(n AS DOUBLE) * 1000000)
                AS BIGINT) AS h6
            FROM steps)
      SELECT lt AS lifetime_days, n AS n_risk, d AS n_churn,
             round(CAST(sum(h6) OVER (ORDER BY lt ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) / 1000000.0, 6)
               AS cum_hazard
      FROM h"""),

    // median-of-pairwise-slopes robust trend over the daily rollup;
    // integer slope quantization + the x2 exact-median trick
    // pairwise slopes over the daily rollup quantized to integer
    // 1e-4-cent/day units, x2 exact-interpolated median, one division
    row("events_theilsen_trend", (s, d) => EventOps.theilSenTrend(s, d), s"""
      WITH daily AS (SELECT event_type,
                       CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                         AS day,
                       ${c100("value")} AS c
                     FROM events),
      d2 AS (SELECT event_type, day, CAST(sum(c) AS BIGINT) AS dc
             FROM daily GROUP BY 1, 2),
      nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
             FROM d2 GROUP BY 1),
      p AS (SELECT a.event_type,
              CAST(round(CAST(b.dc - a.dc AS DOUBLE)
                / CAST(b.day - a.day AS DOUBLE) * 10000) AS BIGINT) AS s4
            FROM d2 a JOIN d2 b ON a.event_type = b.event_type
              AND a.day < b.day),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(round(quantile_cont(s4, 0.5) * 2) AS BIGINT) AS med2
            FROM p GROUP BY 1)
      SELECT m.event_type, nd.n_days, m.n_pairs,
             round(CAST(med2 AS DOUBLE) / 2000000.0, 6) AS slope_per_day
      FROM m JOIN nd USING (event_type)"""),

    // additive seasonal decomposition: centered-7 MA detrend (integer
    // cent sums), micro-quantized detrended values, per-slot means
    // centered-7 ROWS moving average over the daily rollup (integer
    // cent sums, full windows only), micro-quantized detrended values,
    // one division per output row
    row("events_seasonal_decompose", (s, d) => EventOps.seasonalDecompose(s, d), s"""
      WITH daily AS (SELECT event_type,
                       CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                         AS day,
                       ${c100("value")} AS c
                     FROM events),
      d2 AS (SELECT event_type, day, CAST(sum(c) AS BIGINT) AS dc
             FROM daily GROUP BY 1, 2),
      ma AS (SELECT event_type, day, dc,
               CAST(sum(dc) OVER w AS BIGINT) AS t7,
               CAST(count(*) OVER w AS BIGINT) AS nw
             FROM d2
             WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      det AS (SELECT event_type, day % 7 AS weekday,
                CAST(round((CAST(dc AS DOUBLE) / 100.0
                  - CAST(t7 AS DOUBLE) / 700.0) * 1000000) AS BIGINT)
                  AS det6
              FROM ma WHERE nw = 7)
      SELECT event_type, weekday,
             CAST(count(*) AS BIGINT) AS n_days,
             round(CAST(sum(det6) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS seasonal
      FROM det GROUP BY 1, 2"""),

    // first/last-touch revenue attribution: BOTH models from one
    // user-partitioned window pass, exact cents
    row("events_attribution", (s, d) => EventOps.attribution(s, d), attributionOracle),

    // the same attribution EXECUTED BY the streaming engine: per-user
    // credit rows emitted from keyed state at watermark eviction
    // (shares events_attribution's oracle)
    // the streaming-executed twin answers the SAME question (keyed
    // state, strict-order replay at watermark eviction) -> same oracle
    row("events_attribution_streamed",
      (s, d) => streaming.EventStream.attributionStreamed(s, d), attributionOracle),

    // ACF lags 1..7 of the daily series (exact integer moments via
    // the n-cleared mean; consecutive-observation lag indexing)
    // the same n-cleared integer moments; HUGEINT carries what Spark
    // holds in DECIMAL(38,0)
    row("events_autocorrelation", (s, d) => EventOps.autocorrelation(s, d), s"""
      WITH daily AS (SELECT event_type,
                            CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                              AS day,
                            ${c100("value")} AS c
                     FROM events),
      d2 AS (SELECT event_type, day, sum(c) AS dc
             FROM daily GROUP BY 1, 2),
      idx AS (SELECT event_type,
                     CAST(row_number() OVER (PARTITION BY event_type
                       ORDER BY day) AS BIGINT) AS i,
                     CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n,
                     CAST(sum(dc) OVER (PARTITION BY event_type) AS BIGINT)
                       AS s,
                     dc
              FROM d2),
      dd AS (SELECT event_type, i, n,
                    CAST(n * dc - s AS HUGEINT) AS d
             FROM idx),
      den AS (SELECT event_type, sum(d * d) AS den, max(n) AS n_days
              FROM dd GROUP BY 1),
      lags AS (SELECT a.event_type, k.lag, sum(a.d * b.d) AS num
               FROM dd a
               JOIN (SELECT unnest(generate_series(1, 7)) AS lag) k ON true
               JOIN dd b ON b.event_type = a.event_type
                        AND b.i = a.i + k.lag
               GROUP BY 1, 2)
      SELECT l.event_type, CAST(l.lag AS BIGINT) AS lag,
             den.n_days,
             round(CAST(l.num AS DOUBLE) / CAST(den.den AS DOUBLE), 6) AS acf
      FROM lags l JOIN den USING (event_type)"""),

    // SCD Type-2 dimension versions from the island runs
    // the islands relation + one lead() = SCD2 intervals
    row("events_scd2", EventOps.scd2UserStates _, """
      WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us
                 FROM events),
      f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w <> event_type
                           THEN 1 ELSE 0 END AS chg
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
            FROM f),
      isl AS (SELECT user_id, CAST(island AS BIGINT) AS island,
                     min(event_type) AS event_type,
                     min(us) AS start_us, count(*) AS n_events
              FROM i GROUP BY user_id, island)
      SELECT user_id, island AS version, event_type AS state,
             start_us AS valid_from_us,
             lead(start_us) OVER w2 AS valid_to_us,
             CAST(lead(start_us) OVER w2 IS NULL AS INT) AS is_current,
             n_events
      FROM isl WINDOW w2 AS (PARTITION BY user_id ORDER BY island)"""),

    // CDC snapshot diff: full-outer key join + change classification
    // two snapshot aggregates full-outer-joined; FULL JOIN USING
    // coalesces the key columns like Spark's full_outer on Seq(keys)
    row("events_cdc_diff", EventOps.cdcSnapshotDiff _, s"""
      WITH ev AS (SELECT user_id, event_type, ${c100("value")} AS c,
                         day(ts) AS dom FROM events),
      so AS (SELECT user_id, event_type, count(*) AS n_old,
                    sum(c) AS s_old FROM ev WHERE dom % 2 = 0 GROUP BY 1, 2),
      sn AS (SELECT user_id, event_type, count(*) AS n_new,
                    sum(c) AS s_new FROM ev WHERE dom % 2 = 1 GROUP BY 1, 2)
      SELECT user_id, event_type, n_old, s_old / 100.0 AS sum_old,
             n_new, s_new / 100.0 AS sum_new,
             CASE WHEN n_old IS NULL THEN 'insert'
                  WHEN n_new IS NULL THEN 'delete'
                  WHEN n_old <> n_new OR s_old <> s_new THEN 'update'
                  ELSE 'unchanged' END AS change
      FROM so FULL JOIN sn USING (user_id, event_type)"""),

    // gapless hourly grid (sequence+explode) with forward-filled sums
    // grid densify + IGNORE NULLS forward fill, mirroring the Spark
    // sequence/explode + last(ignoreNulls) plan
    row("events_resample", EventOps.resampleHourly _, s"""
      WITH e AS (SELECT event_type,
                        CAST(floor(CAST(epoch_us(ts) AS DOUBLE)
                                   / 3600000000.0) AS BIGINT) AS hour,
                        ${c100("value")} AS c FROM events),
      h AS (SELECT event_type, hour, count(*) AS n, sum(c) AS s
            FROM e GROUP BY 1, 2),
      b AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi
            FROM h GROUP BY 1),
      grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hour
               FROM b),
      j AS (SELECT g.event_type, g.hour, coalesce(h.n, 0) AS n, h.s AS s
            FROM grid g LEFT JOIN h
              ON g.event_type = h.event_type AND g.hour = h.hour)
      SELECT event_type, hour, n, s / 100.0 AS sum_value,
             last_value(s IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY hour) / 100.0 AS ffill_sum
      FROM j"""),

    // equal-frequency ntile buckets over exact cent values
    // same ntile semantics (SQL standard: leading buckets absorb the
    // remainder) over the same exact (c, event_id) total order
    row("events_equidepth", (s, d) => EventOps.equidepthHistogram(s, d), s"""
      WITH e AS (SELECT event_type, event_id, ${c100("value")} AS c
                 FROM events),
      t AS (SELECT event_type, c, CAST(ntile(10) OVER
              (PARTITION BY event_type ORDER BY c, event_id) AS BIGINT)
              AS bucket FROM e)
      SELECT event_type, bucket, count(*) AS n,
             min(c) / 100.0 AS lo, max(c) / 100.0 AS hi
      FROM t GROUP BY 1, 2"""),

    // per-user EWMA as a fixed-association fold over the sorted history
    row("events_ewma", (s, d) => EventOps.ewma(s, d), ewmaOracle),

    // the same fold EXECUTED BY the streaming engine: keyed state
    // accumulates each user's history, the sentinel-driven event-time
    // timeout fires the fold exactly once (order-insensitive buffering)
    // the streaming-executed twin answers the SAME question (keyed
    // state + event-time-timeout fold) -> same oracle text
    row("events_ewma_streamed",
      (s, d) => graft.streaming.EventStream.ewmaStreamed(s, d),
      ewmaOracle),

    // stationary distribution of the type-transition Markov chain
    // (3 power rounds, 9dp per round — the pagerank discipline)
    // same lag-pair transition relation; 3 unrolled power rounds with
    // per-round 9dp quantization (the graph_pagerank discipline)
    row("events_markov_stationary", (s, d) => EventOps.markovStationary(s, d), """
      WITH pairs AS (SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
             FROM events),
      tr AS (SELECT prev AS src, event_type AS dst, count(*) AS n
             FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2),
      trans AS (SELECT src, dst,
                  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src) AS p
                FROM tr),
      types AS (SELECT src AS t FROM trans UNION SELECT dst FROM trans),
      tr2 AS (SELECT * FROM trans
              UNION ALL
              SELECT t, t, CAST(1.0 AS DOUBLE) FROM types
              WHERE t NOT IN (SELECT DISTINCT src FROM trans)),
      kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM types),
      p0 AS (SELECT t, CAST(1.0 AS DOUBLE) / kk.k AS pi FROM types, kk),
      p1 AS (SELECT tt.dst AS t, round(sum(p0.pi * tt.p), 9) AS pi
             FROM tr2 tt JOIN p0 ON tt.src = p0.t GROUP BY 1),
      p2 AS (SELECT tt.dst AS t, round(sum(p1.pi * tt.p), 9) AS pi
             FROM tr2 tt JOIN p1 ON tt.src = p1.t GROUP BY 1),
      p3 AS (SELECT tt.dst AS t, round(sum(p2.pi * tt.p), 9) AS pi
             FROM tr2 tt JOIN p2 ON tt.src = p2.t GROUP BY 1)
      SELECT types.t AS event_type,
             round(coalesce(p3.pi, 0.0), 6) AS stationary
      FROM types LEFT JOIN p3 ON types.t = p3.t"""),

    // left-outer stream-stream interval join EXECUTED BY the streaming
    // engine: unmatched errors emit null-padded from the join state
    // when the sentinel-driven watermark passes their horizon
    // batch LEFT JOIN twin of the streaming outer interval join —
    // unmatched errors carry null click_id/gap_us on both engines
    row("events_interval_outer_streamed",
      (s, d) => graft.streaming.EventStream.intervalOuterStreamed(s, d), """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
                 WHERE event_type = 'error'),
      c AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
            WHERE event_type = 'click')
      SELECT e.user_id, e.event_id AS err_id, c.event_id AS click_id,
             abs(e.us - c.us) AS gap_us
      FROM e LEFT JOIN c
        ON e.user_id = c.user_id AND abs(e.us - c.us) <= 1800000000"""),

    // FULL OUTER stream-stream interval join: both sides' unmatched
    // rows emit from join state on watermark passage (join-mode matrix
    // complete: inner, left outer, full outer)
    // batch FULL JOIN twin of the streaming full-outer interval join —
    // either side's unmatched rows null-pad; user_id coalesces
    row("events_interval_full_streamed",
      (s, d) => graft.streaming.EventStream.intervalFullStreamed(s, d), """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
                 WHERE event_type = 'error'),
      c AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
            WHERE event_type = 'click')
      SELECT coalesce(e.user_id, c.user_id) AS user_id,
             e.event_id AS err_id, c.event_id AS click_id,
             abs(e.us - c.us) AS gap_us
      FROM e FULL JOIN c
        ON e.user_id = c.user_id AND abs(e.us - c.us) <= 1800000000"""),

    row("events_topk_amounts", (s, d) => EventOps.topAmounts(s, d), topAmountsOracle),

    // same leaderboard, but the rows are PRODUCED BY the streaming
    // engine (file stream source -> flatMapGroupsWithState keyed state
    // -> memory sink, Trigger.AvailableNow) — streaming execution
    // itself sits under the oracle's hash check
    // the streaming-executed twin answers the SAME question (the keyed
    // leaderboard fold is order-insensitive), so it shares the oracle
    row("events_topk_amounts_streamed",
      (s, d) => graft.streaming.EventStream.topAmountsStreamed(s, d), topAmountsOracle),

    // streaming-executed twin (complete-mode window agg) — same answer
    row("events_tumbling_streamed",
      (s, d) => graft.streaming.EventStream.tumblingStreamed(s, d), tumblingOracle),

    // native session_window executed BY the streaming engine: sessions
    // emit from keyed state when the (sentinel-driven) watermark passes
    // their end — append-mode stateful execution under the hash gate
    // the streaming-executed session_window run shares the same oracle:
    // watermark-driven append-mode emission must reproduce the batch
    // sessions exactly
    row("events_sessions_streamed",
      (s, d) => graft.streaming.EventStream.sessionsNativeStreamed(s, d),
      sessionsNativeOracle),

    // every event delivered TWICE through the stream; the watermarked
    // dedup state must drop the re-deliveries exactly (oracle = the
    // events table itself)
    // duplicate-free projection of the doubled stream == the fixture
    row("events_dedup_streamed",
      (s, d) => graft.streaming.EventStream.dedupStreamed(s, d), """
      SELECT event_id, user_id, event_type, value,
             epoch_us(ts) AS ts_us
      FROM events"""),

    // stream-stream interval join executed by the streaming engine
    // (symmetric-hash join state) — oracle: the equivalent batch join
    // the batch equivalent of the streamed stream-stream interval join:
    // every error joined to same-user clicks within +/- 30 minutes
    row("events_interval_streamed",
      (s, d) => graft.streaming.EventStream.intervalJoinStreamed(s, d), """
      SELECT e.user_id, e.event_id AS err_id, c.event_id AS click_id,
             abs(epoch_us(e.ts) - epoch_us(c.ts)) AS gap_us
      FROM events e JOIN events c
        ON e.user_id = c.user_id
       AND e.event_type = 'error' AND c.event_type = 'click'
       AND abs(epoch_us(e.ts) - epoch_us(c.ts)) <= 1800000000"""),

    // stream-STATIC enrichment join (per-micro-batch broadcast of the
    // cohort dimension, no join state) — oracle: the batch equivalent
    row("events_enriched_streamed",
      (s, d) => graft.streaming.EventStream.enrichedStreamed(s, d), s"""
      WITH c AS (SELECT user_id,
                        strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS cohort
                 FROM events GROUP BY 1)
      SELECT cohort, count(*) AS n,
             sum(${c100("value")}) / 100.0 AS sum_value
      FROM events JOIN c USING (user_id)
      GROUP BY 1"""),
  )
}
