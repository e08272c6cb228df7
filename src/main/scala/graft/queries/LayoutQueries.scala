package graft
package queries

import graft.operators.ScaleTechniques

/** Physical-layout audits: z-order / Hilbert clustering, skipping and
  * read amplification (`layout_`).
  */
object LayoutQueries {

  private val row = new Declared.Family(readsMemos = false)

  val rows: Seq[Declared] = Seq(
    // Z-order zone maps: the multi-dim clustering layout, as a query —
    // per-tile envelopes a stats-based reader prunes on (bit-exact oracle)
    // bit-exact replay of the Morton interleave, generated term-by-term
    row("layout_zorder_stats", (s, d) => ScaleTechniques.zorderBucketStats(s, d),
      ScaleTechniques.zorderOracleSql()),

    // Hilbert-curve tile envelopes — same granularity as the zorder
    // row; the index is a native codegen Expression (the rotation
    // recurrence doesn't unroll into a Column fold)
    row("layout_hilbert_stats", (s, d) => ScaleTechniques.hilbertBucketStats(s, d),
      ScaleTechniques.hilbertOracleSql()),

    // measured read amplification of the two curves on one box
    // predicate: tiles a stats-pruning reader opens + rows scanned vs
    // rows matched, per curve — the I/O bill of the layout choice
    row("layout_curve_read_amp", (s, d) => ScaleTechniques.curveReadAmp(s, d),
      ScaleTechniques.curveReadAmpOracleSql()),

    // the box predicate (date AND supplier band) on all four layouts:
    // the measured case FOR Morton interleaving — neither 1-D sort
    // serves the conjunctive query; the z-ordered files prune both axes
    // the interleaved-layout answer to the tradeoff matrix: box
    // predicate on all four layouts, zorder replayed term-by-term
    // reads the persisted layout envelopes (bench_build_layout_envelopes)
    Declared("layout_zorder_box",
      (s, d) => ScaleTechniques.zorderBoxAudit(s, d), readsMemos = true,
      oracle = ScaleTechniques.zorderBoxOracleSql()),

    // runtime partition pruning OVER the z-tiled layout: the tile
    // directory deinterleaved into envelopes, DPP prunes to the box's
    // tiles (plan pinned in ScaleTechniquesSpec) — r10 optional ask
    // pruning changes I/O, never results: the plain filtered rollup
    row("layout_zorder_dpp", (s, d) => ScaleTechniques.zorderDppBox(s, d),
      ScaleTechniques.zorderDppOracleSql()),

    // the curve-story twin: DPP over the HILBERT-clustered layout, the
    // tile catalog's exact envelopes derived via the inverse transform
    // (layout-constant geometry) — completes the interleave family
    // under the gate (r11 optional ask)
    row("layout_hilbert_dpp", (s, d) => ScaleTechniques.hilbertDppBox(s, d),
      ScaleTechniques.hilbertDppOracleSql()),

    // zone-map skip-rate audit: natural vs shipdate-sorted file layout
    // for a one-month band — the pay-for-the-sort-rewrite evidence
    // zone-map replay: same epoch-day band, same 4096-row file model
    // under both total orders (row_number = the rank primitive's value)
    // reads the persisted layout envelopes (bench_build_layout_envelopes)
    Declared("layout_minmax_skipping",
      (s, d) => ScaleTechniques.minmaxSkipping(s, d), readsMemos = true,
      oracle = """
      WITH li AS (SELECT l_orderkey, l_linenumber,
                    epoch_us(l_shipdate) // 86400000000 AS epday
                  FROM lineitem),
      m AS (SELECT CAST(sum(CASE WHEN epday BETWEEN 9190 AND 9220
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_match FROM li),
      rn AS (SELECT epday,
               row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS grk
             FROM li),
      fn AS (SELECT (grk - 1) // 4096 AS fid, min(epday) AS mn,
               max(epday) AS mx, count(*) AS c FROM rn GROUP BY 1),
      rs AS (SELECT epday,
               row_number() OVER (ORDER BY epday, l_orderkey, l_linenumber)
                 AS grk
             FROM li),
      fs AS (SELECT (grk - 1) // 4096 AS fid, min(epday) AS mn,
               max(epday) AS mx, count(*) AS c FROM rs GROUP BY 1),
      a AS (
        SELECT 'natural' AS layout, CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN mx < 9190 OR mn > 9220 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_skipped,
               CAST(sum(CASE WHEN mx >= 9190 AND mn <= 9220 THEN c ELSE 0
                 END) AS BIGINT) AS n_rows_scanned
        FROM fn
        UNION ALL
        SELECT 'shipdate_sorted', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN mx < 9190 OR mn > 9220 THEN 1 ELSE 0 END)
                 AS BIGINT),
               CAST(sum(CASE WHEN mx >= 9190 AND mn <= 9220 THEN c ELSE 0
                 END) AS BIGINT)
        FROM fs)
      SELECT layout, n_files, n_skipped,
             n_skipped * 1000 // n_files AS skip_permille,
             n_rows_scanned, n_match
      FROM a CROSS JOIN m"""),

    // the two-key layout tradeoff: 3 layouts x 2 predicates — each
    // single-key sort prunes its own access path and not the other
    // (the evidence for Z-order interleaving)
    // layout tradeoff replay: same three row_number layouts, one
    // dual-key envelope rollup per layout, two conditional-sum legs
    // reads the persisted layout envelopes (bench_build_layout_envelopes)
    Declared("layout_tradeoff_matrix",
      (s, d) => ScaleTechniques.layoutTradeoffMatrix(s, d), readsMemos = true,
      oracle = """
      WITH li AS (SELECT l_orderkey, l_linenumber,
                    epoch_us(l_shipdate) // 86400000000 AS epday,
                    CAST(l_suppkey AS BIGINT) AS supp
                  FROM lineitem),
      m AS (SELECT CAST(sum(CASE WHEN epday BETWEEN 9190 AND 9220
                     THEN 1 ELSE 0 END) AS BIGINT) AS m_date,
                   CAST(sum(CASE WHEN supp BETWEEN 0 AND 9
                     THEN 1 ELSE 0 END) AS BIGINT) AS m_supp
            FROM li),
      rn AS (SELECT epday, supp,
               row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS grk
             FROM li),
      rd AS (SELECT epday, supp,
               row_number() OVER (ORDER BY epday, l_orderkey, l_linenumber)
                 AS grk
             FROM li),
      rs AS (SELECT epday, supp,
               row_number() OVER (ORDER BY supp, l_orderkey, l_linenumber)
                 AS grk
             FROM li),
      env AS (
        SELECT 'natural' AS layout, (grk - 1) // 4096 AS fid,
               min(epday) AS dmn, max(epday) AS dmx,
               min(supp) AS smn, max(supp) AS smx, count(*) AS c
        FROM rn GROUP BY 1, 2
        UNION ALL
        SELECT 'shipdate_sorted', (grk - 1) // 4096,
               min(epday), max(epday), min(supp), max(supp), count(*)
        FROM rd GROUP BY 1, 2
        UNION ALL
        SELECT 'supplier_sorted', (grk - 1) // 4096,
               min(epday), max(epday), min(supp), max(supp), count(*)
        FROM rs GROUP BY 1, 2),
      a AS (
        SELECT layout, 'date_band' AS predicate,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN dmx < 9190 OR dmn > 9220 THEN 1 ELSE 0
                 END) AS BIGINT) AS n_skipped,
               CAST(sum(CASE WHEN dmx >= 9190 AND dmn <= 9220 THEN c
                 ELSE 0 END) AS BIGINT) AS n_rows_scanned
        FROM env GROUP BY 1
        UNION ALL
        SELECT layout, 'supp_band', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN smx < 0 OR smn > 9 THEN 1 ELSE 0 END)
                 AS BIGINT),
               CAST(sum(CASE WHEN smx >= 0 AND smn <= 9 THEN c ELSE 0 END)
                 AS BIGINT)
        FROM env GROUP BY 1)
      SELECT layout, predicate, n_files, n_skipped,
             n_skipped * 1000 // n_files AS skip_permille, n_rows_scanned,
             CASE WHEN predicate = 'date_band' THEN m_date ELSE m_supp END
               AS n_match
      FROM a CROSS JOIN m"""),
  )
}
