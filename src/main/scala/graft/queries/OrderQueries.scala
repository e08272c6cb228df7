package graft
package queries

import graft.operators.{GraphOps, Relational, ScaleTechniques}
import OracleSql.c100

/** Order analytics, MERGE / CDC / merge-on-read and the co-purchase
  * recommenders (`orders_`).
  */
object OrderQueries {

  private val basketCompletionSql = """
      WITH cp AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ip AS MATERIALIZED (SELECT a.p AS p1, b.p AS p2, count(*) AS cnt
             FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
             GROUP BY 1, 2 HAVING count(*) >= 2),
      sym0 AS (SELECT p1 AS p, p2 AS rec, cnt FROM ip
               UNION ALL SELECT p2, p1, cnt FROM ip),
      sym AS MATERIALIZED (SELECT p, rec, cnt FROM sym0
              QUALIFY row_number() OVER (PARTITION BY p
                ORDER BY cnt DESC, rec) <= 20),
      sc AS (SELECT cp.c, sym.rec, sum(sym.cnt) AS score
             FROM cp JOIN sym USING (p) GROUP BY 1, 2),
      f AS (SELECT * FROM sc WHERE NOT EXISTS
              (SELECT 1 FROM cp WHERE cp.c = sc.c AND cp.p = sc.rec))
      SELECT c AS custkey, rec AS partkey, CAST(score AS BIGINT) AS score,
             CAST(row_number() OVER (PARTITION BY c
               ORDER BY score DESC, rec) AS INT) AS rk
      FROM f QUALIFY rk <= 5"""

  /** Every version boundary's state reconstructed relationally —
    * shared by the copy-on-write chain row (orders_cdc_timetravel) and
    * its merge-on-read twin (orders_mor_timetravel): the two physical
    * strategies must implement IDENTICAL as-of semantics.
    */
  private val timeTravelSql = """
      WITH vs AS (SELECT range AS v FROM range(-1, 4)),
      base AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS c
               FROM orders),
      st AS (
        SELECT vs.v,
               CASE WHEN b.k % 500 = 0 AND ((b.k // 500) % 4) <= vs.v
                 THEN (b.c * 11) // 10 ELSE b.c END AS c
        FROM vs, base b
        WHERE NOT (b.k % 700 = 0 AND b.k % 500 <> 0
                   AND ((b.k // 500) % 4) <= vs.v)
        UNION ALL
        SELECT vs.v, (b.c * 11) // 10 AS c
        FROM vs, base b
        WHERE b.k % 500 = 0 AND ((b.k // 500) % 4) <= vs.v)
      SELECT CAST(v AS BIGINT) AS version,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(c) AS BIGINT) AS total_cents
      FROM st GROUP BY 1"""

  /** The composed MOR end state + sidecar sizes — shared by the batch
    * row (orders_merge_on_read) and its streamed twin
    * (orders_mor_apply_streamed): one definition, one oracle.
    */
  private val morEndStateSql = """
      WITH up AS (SELECT o_orderkey AS k,
                    (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                      AS nc
                  FROM orders WHERE o_orderkey % 500 = 0),
      kept AS (SELECT CASE WHEN o_orderkey % 500 = 0
                        THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 11)
                             // 10
                        ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                      END AS c
               FROM orders
               WHERE NOT (o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0)),
      allr AS (SELECT c FROM kept UNION ALL SELECT nc FROM up),
      nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM up),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders
             WHERE o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             (SELECT n FROM nu) + (SELECT n FROM nd) AS n_delete_keys,
             (SELECT n FROM nu) * 2 AS n_insert_rows,
             CAST(sum(c) AS BIGINT) AS total_cents
      FROM allr"""

  private val row = new Declared.Family(readsMemos = false)

  val rows: Seq[Declared] = Seq(
    // item-item CF serving: top-k unowned parts per customer scored by
    // summed co-purchase affinity (the co-purchase TRANSPOSE), grouped
    // top-k via the bounded-heap TopKPerGroup operator
    // basket-completion replay: item-pair counts off the same distinct
    // (customer, part) incidence, symmetrized then CAPPED to each
    // item's 20 strongest neighbors (affinity desc, part ties asc —
    // the truncated-neighbor-list serving discipline), summed per
    // (customer, candidate), owned parts removed, top-5 per customer
    // with ties to the smaller part key
    // reads the persisted item-pair builds (bench_build_itempairs)
    Declared("orders_basket_completion",
      (s, d) => GraphOps.basketCompletion(s, d), readsMemos = true,
      oracle = basketCompletionSql),

    // the ItemNbrDriverMaxEntries fallback leg, gated on the same oracle
    // the past-cutover serving leg under the SAME oracle: the fallback
    // must be semantically invisible, so it earns its own gated row
    // reads the persisted item-pair builds (bench_build_itempairs)
    Declared("orders_basket_completion_dist",
      (s, d) => GraphOps.basketCompletionDistributed(s, d), readsMemos = true,
      oracle = basketCompletionSql),

    // the normalized "related items" table: per-part top-10 by
    // co-purchase cosine (cnt / sqrt(pop_a*pop_b)), the popularity
    // correction raw co-counts lack; shares the CF build
    // related-items replay: same pair counts, same popularity
    // normalization (exact BIGINT product under one sqrt), rounded 6
    // BEFORE ranking, ties to the smaller neighbor key
    // reads the persisted item-pair builds (bench_build_itempairs)
    Declared("orders_item_similarity",
      (s, d) => GraphOps.itemSimilarity(s, d), readsMemos = true,
      oracle = """
      WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ip AS (SELECT a.p AS p1, b.p AS p2, count(*) AS cnt
             FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
             GROUP BY 1, 2 HAVING count(*) >= 2),
      sym AS (SELECT p1 AS p, p2 AS rec, cnt FROM ip
              UNION ALL SELECT p2, p1, cnt FROM ip),
      pop AS (SELECT p, count(*) AS n FROM cp GROUP BY 1),
      s AS (SELECT sym.p, sym.rec, sym.cnt,
              round(sym.cnt / sqrt(CAST(a.n * b.n AS DOUBLE)), 6)
                AS cosine
            FROM sym JOIN pop a ON a.p = sym.p
            JOIN pop b ON b.p = sym.rec)
      SELECT p AS partkey, rec AS neighbor, cnt AS n_common, cosine,
             CAST(row_number() OVER (PARTITION BY p
               ORDER BY cosine DESC, rec) AS INT) AS rk
      FROM s QUALIFY rk <= 10"""),

    // runtime-filter join pruning: dim keys -> broadcast Bloom -> fact
    // rows drop map-side before the join; exact join removes FPs
    // the PLAIN join — the Bloom prune must not change the answer
    row("orders_bloom_pruned_join", (s, d) => ScaleTechniques.bloomPrunedJoin(s, d),
      s"""
      SELECT strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS day,
             count(*) AS n_lines,
             sum(${c100("l.l_extendedprice")}) / 100.0 AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
        AND o.o_orderdate >= TIMESTAMP '1998-06-01'
      GROUP BY 1"""),

    // dynamic partition pruning: month-partitioned fact x broadcast
    // calendar dim -> runtime IN-filter on the partition column reads
    // 3 of 84 month dirs (plan + pruned-I/O pinned in the spec)
    // the dim-filtered pruning join collapses to a direct quarter
    // filter over the unpartitioned source rows (same rows by
    // construction of the partitioned artifact)
    row("orders_dpp_pruned", (s, d) => ScaleTechniques.dppPrunedJoin(s, d), s"""
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS o_month,
             count(*) AS n_orders,
             sum(${c100("o_totalprice")}) / 100.0 AS revenue
      FROM orders
      WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) = 1
      GROUP BY 1"""),

    // co-bucketed fact-to-fact join: both sides pre-hashed and sorted
    // by the key, so the SMJ runs with no exchange and no sort
    // (spec-pinned); only the |priorities|-group rollup shuffles
    // bucketing is pure physical layout: the oracle is the plain join
    row("orders_bucketed_join", (s, d) => ScaleTechniques.bucketedJoin(s, d), s"""
      SELECT o_orderpriority, count(*) AS n_lines,
             sum(${c100("l_extendedprice")}) / 100.0 AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1"""),

    // market-basket association rules (support/confidence/lift)
    row("orders_market_basket", (s, d) => Relational.marketBasketBrands(s, d), """
      WITH ob AS (SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
                  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      n AS (SELECT count(DISTINCT o) AS total FROM ob),
      item AS (SELECT b, count(*) AS n_item FROM ob GROUP BY 1),
      pairs AS (SELECT x.b AS ba, y.b AS bb, count(*) AS n_ab
                FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b
                GROUP BY 1, 2)
      SELECT ba, bb, n_ab,
             round(CAST(n_ab AS DOUBLE) / a.n_item, 6) AS conf_ab,
             round(CAST(n_ab * total AS DOUBLE)
                   / (a.n_item * b2.n_item), 6) AS lift
      FROM pairs
      JOIN item a ON a.b = ba
      JOIN item b2 ON b2.b = bb
      CROSS JOIN n
      WHERE n_ab >= 50"""),

    // MERGE semantics end to end: keyed upsert (whole-row replace +
    // append) applied to orders, end state summarized under the hash
    // gate; the oracle reconstructs the merge with CASE + UNION
    // MERGE replay: merged relation reconstructed relationally — every
    // 500th order re-priced to cents*11 div 10 with a sentinel status,
    // a clone appended per update, untouched rows carried through
    row("orders_merge_upsert", (s, d) => sources.Ingest.mergeUpsertShowcase(s, d), """
      WITH up AS (SELECT o_orderkey,
                    (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                      AS nc
                  FROM orders WHERE o_orderkey % 500 = 0),
      m AS (SELECT CASE WHEN o.o_orderkey % 500 = 0 THEN up.nc
                        ELSE CAST(round(o.o_totalprice * 100) AS BIGINT)
                   END AS c,
                   CASE WHEN o.o_orderkey % 500 = 0 THEN 'U!'
                        ELSE o.o_orderstatus END AS st
            FROM orders o LEFT JOIN up ON up.o_orderkey = o.o_orderkey
            UNION ALL
            SELECT nc, 'I!' FROM up)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN st = 'U!' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_updated,
             CAST(sum(CASE WHEN st = 'I!' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inserted,
             CAST(sum(c) AS BIGINT) AS total_cents
      FROM m"""),

    // the MERGE DELETE half: keyed anti-join end state under the gate
    // identical integer products and single divisions on both engines
    // MERGE DELETE replay: the remaining relation is the key filter
    row("orders_merge_delete", (s, d) => sources.Ingest.mergeDeleteShowcase(s, d), """
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN o_orderkey % 500 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_deleted_present,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS total_cents
      FROM orders WHERE o_orderkey % 500 <> 0"""),

    // the CDC half of MERGE: per-key insert/update/delete changelog,
    // |batch|-bounded (every join broadcasts a batch-sized side)
    // CDC changelog replay: the update leg reads old cents off orders
    // directly (the batch derives from orders, so the reconstruction
    // needs no join); inserts are the -(k+1)-keyed clones; deletes the
    // disjoint every-700th set — all values exact BIGINT cents
    row("orders_merge_changelog", (s, d) => sources.Ingest.mergeChangelogShowcase(s, d),
      """
      WITH up AS (SELECT o_orderkey AS k,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS oc,
                    (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                      AS nc
                  FROM orders WHERE o_orderkey % 500 = 0)
      SELECT k AS o_orderkey, 'update' AS action, oc AS old_cents,
             nc AS new_cents
      FROM up
      UNION ALL
      SELECT -(k + 1), 'insert', CAST(NULL AS BIGINT), nc FROM up
      UNION ALL
      SELECT o_orderkey, 'delete',
             CAST(round(o_totalprice * 100) AS BIGINT),
             CAST(NULL AS BIGINT)
      FROM orders WHERE o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0"""),

    // the CONSUMPTION half: the streaming engine tails the changelog
    // one chunk per micro-batch and MERGEs it into a versioned state
    // table (foreachBatch, the crash-proven v=<id> overwrite contract);
    // the hash gate proves incremental maintenance == the batch MERGE
    // CDC apply replay: the composed end state (updates re-priced,
    // clones appended, the disjoint every-700th set removed) plus the
    // changelog's own action counts
    row("orders_cdc_apply_streamed",
      (s, d) => streaming.CdcStream.applyChangelogStreamed(s, d), """
      WITH up AS (SELECT o_orderkey AS k,
                    (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                      AS nc
                  FROM orders WHERE o_orderkey % 500 = 0),
      kept AS (SELECT CASE WHEN o_orderkey % 500 = 0
                        THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 11)
                             // 10
                        ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                      END AS c
               FROM orders
               WHERE NOT (o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0)),
      allr AS (SELECT c FROM kept UNION ALL SELECT nc FROM up),
      nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM up),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders
             WHERE o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             (SELECT n FROM nu) AS n_updated,
             (SELECT n FROM nu) AS n_inserted,
             (SELECT n FROM nd) AS n_deleted,
             CAST(sum(c) AS BIGINT) AS total_cents
      FROM allr"""),

    // the transaction-log CHECKPOINT: fold the applied version chain
    // into one bucketed snapshot and summarize the table read back from
    // the snapshot alone — the hash gate proves the fold lost nothing
    // CDC compaction replay: the composed end table keyed (the snapshot
    // holds keys, so buckets = occupied pmod-16 cells); versions folded
    // = distinct pmod-4 staging chunks carrying at least one action
    row("orders_cdc_compacted",
      (s, d) => streaming.CdcStream.compactedStateSummary(s, d), """
      WITH up AS (SELECT o_orderkey AS k,
                    (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                      AS nc
                  FROM orders WHERE o_orderkey % 500 = 0),
      fin AS (SELECT o_orderkey AS k,
                     CASE WHEN o_orderkey % 500 = 0
                       THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 11)
                            // 10
                       ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                     END AS c
              FROM orders
              WHERE NOT (o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0)
              UNION ALL
              SELECT -(k + 1), nc FROM up),
      chunks AS (SELECT DISTINCT ((k0 % 4) + 4) % 4 AS ch FROM (
                   SELECT o_orderkey AS k0 FROM orders
                   WHERE o_orderkey % 500 = 0
                   UNION ALL
                   SELECT -(o_orderkey + 1) FROM orders
                   WHERE o_orderkey % 500 = 0
                   UNION ALL
                   SELECT o_orderkey FROM orders
                   WHERE o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0))
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT ((k % 16) + 16) % 16) AS BIGINT)
               AS n_buckets,
             (SELECT CAST(count(*) AS BIGINT) FROM chunks)
               AS n_versions_folded,
             CAST(sum(c) AS BIGINT) AS total_cents
      FROM fin"""),

    // incremental view maintenance: a per-segment (rows, cents) view
    // maintained from changelog deltas ALONE — O(changes+groups) per
    // trigger, the base table scanned exactly once at view build; the
    // oracle re-aggregates the composed end table from scratch
    // IVM replay: the view re-aggregated from the composed end table
    // from scratch — hash match proves delta maintenance == recompute
    row("orders_cdc_ivm_streamed",
      (s, d) => streaming.CdcStream.ivmChangelogStreamed(s, d), """
      WITH up AS (SELECT o_orderkey AS k,
                    (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                      AS nc
                  FROM orders WHERE o_orderkey % 500 = 0),
      fin AS (SELECT o_orderkey AS k,
                     CASE WHEN o_orderkey % 500 = 0
                       THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 11)
                            // 10
                       ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                     END AS c
              FROM orders
              WHERE NOT (o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0)
              UNION ALL
              SELECT -(k + 1), nc FROM up)
      SELECT CAST(((k % 8) + 8) % 8 AS BIGINT) AS segment,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(c) AS BIGINT) AS total_cents
      FROM fin GROUP BY 1"""),

    // TIME TRAVEL over the version chain: the table read back as of
    // EVERY version boundary (base, then chunk 0..3 applied), each
    // as-of read resolved purely from the bucketed v=<id> layout —
    // the hash gate proves snapshot-boundary reads across the whole
    // timeline, not just the end state
    // time-travel replay: each version boundary's state reconstructed
    // relationally — actions whose key-chunk ((|key| div 500) mod 4)
    // <= v applied; v = -1 is the untouched base snapshot. An insert
    // clone -(k+1) has |clone| = k+1 in the same 500-block as its
    // update key k, so the pair always lands in one version.
    row("orders_cdc_timetravel", (s, d) => streaming.CdcStream.timeTravelSummary(s, d),
      timeTravelSql),

    // MERGE-ON-READ: the changelog applied as equality-delete +
    // insert-delta sidecars beside the UNTOUCHED base (the deletion-
    // vector strategy — a delete writes keys, never rewrites data);
    // the read-side anti-join + union must hash to the same end state
    // as the copy-on-write apply row
    // merge-on-read replay: identical end state to the apply row (the
    // strategies differ physically, never logically) plus the sidecar
    // sizes — delete keys = updates' old images + deletes; insert rows
    // = updates' new images + insert clones
    row("orders_merge_on_read", (s, d) => streaming.CdcStream.mergeOnReadSummary(s, d),
      morEndStateSql),

    // the STREAMING merge-on-read apply: each micro-batch appends its
    // slice as sidecar files (|batch|-row writes, base never touched),
    // the read side resolves them — same oracle as the batch MOR row,
    // the true O(changes) end of the CDC write-strategy spectrum
    // the streamed sidecar apply converges to the identical end state
    row("orders_mor_apply_streamed",
      (s, d) => streaming.CdcStream.morApplyStreamed(s, d), morEndStateSql),

    // MOR major compaction: fold the sidecars into a clean bucketed
    // snapshot (the deferred write, paid once) and summarize the table
    // read back from the snapshot ALONE — the hash gate proves the
    // fold lost nothing
    // the compacted snapshot alone must reconstruct the same end state
    row("orders_mor_compacted", (s, d) => streaming.CdcStream.morCompactedSummary(s, d),
      morEndStateSql),

    // TIME TRAVEL over the MOR sidecar chain: as-of reads resolve base
    // + the sidecar PREFIX <= v with sequence-aware delete masking —
    // same oracle as the copy-on-write timetravel row, proving the two
    // physical strategies implement identical as-of semantics
    // the MOR sidecar chain must resolve EVERY as-of boundary to the
    // same state as the copy-on-write chain — one oracle, two physical
    // strategies under the same gate
    row("orders_mor_timetravel",
      (s, d) => streaming.CdcStream.morTimeTravelSummary(s, d), timeTravelSql),

    // TIME TRAVEL through a MINOR-COMPACTED layout: every RETAINED
    // boundary (>= the fold high-water) resolves off the folded chain
    // — consolidated generation + live sidecar prefix — exactly as the
    // pristine chain served it: the as-of guarantee that must survive
    // compaction
    // time travel THROUGH the minor fold: the retained boundaries
    // (v >= 2, the foldK=3 high-water over the 4-chunk chain) must
    // read back off the folded layout exactly as the pristine chain
    // serves them — the same boundary reconstruction restricted to
    // the retained window; fold_upto pins the fold horizon
    row("orders_mor_timetravel_folded",
      (s, d) => streaming.CdcStream.morFoldedTimeTravelSummary(s, d), """
      WITH vs AS (SELECT range AS v FROM range(2, 4)),
      base AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS c
               FROM orders),
      st AS (
        SELECT vs.v,
               CASE WHEN b.k % 500 = 0 AND ((b.k // 500) % 4) <= vs.v
                 THEN (b.c * 11) // 10 ELSE b.c END AS c
        FROM vs, base b
        WHERE NOT (b.k % 700 = 0 AND b.k % 500 <> 0
                   AND ((b.k // 500) % 4) <= vs.v)
        UNION ALL
        SELECT vs.v, (b.c * 11) // 10 AS c
        FROM vs, base b
        WHERE b.k % 500 = 0 AND ((b.k // 500) % 4) <= vs.v)
      SELECT CAST(v AS BIGINT) AS version,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(c) AS BIGINT) AS total_cents,
             CAST(2 AS BIGINT) AS fold_upto
      FROM st GROUP BY 1"""),

    // MOR MINOR compaction: fold the 3 oldest sidecar batches into one
    // consolidated pair (manifest-committed, base untouched) — the
    // read-side fan-in drops 8 -> 4 while the end state hash-matches
    // the same composed-state oracle family
    // minor compaction: the end state survives the fold untouched
    // (same composed-state core as the MOR family); the 8 -> 4
    // sidecar fan-in drop is the structural design pin of the
    // 4-chunk chain folded 3-oldest (2 consolidated + 2 remaining)
    row("orders_mor_minor_compacted",
      (s, d) => streaming.CdcStream.morMinorCompactedSummary(s, d), """
      WITH up AS (SELECT o_orderkey AS k,
                    (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                      AS nc
                  FROM orders WHERE o_orderkey % 500 = 0),
      kept AS (SELECT CASE WHEN o_orderkey % 500 = 0
                        THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 11)
                             // 10
                        ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                      END AS c
               FROM orders
               WHERE NOT (o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0)),
      allr AS (SELECT c FROM kept UNION ALL SELECT nc FROM up)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(8 AS BIGINT) AS n_sidecars_before,
             CAST(4 AS BIGINT) AS n_sidecars_after,
             CAST(sum(c) AS BIGINT) AS total_cents
      FROM allr"""),

    // the production MOR loop: streamed apply with AUTO minor
    // compaction (pointer-file generations) — two folds fire during
    // the 4-chunk stream, read fan-in stays bounded forever, end state
    // under the same gate
    // the auto-compacting stream: same composed end state; the fold
    // count (generations g0+g1 at maxLive=1 over 4 chunks) and the
    // zero live-batch tail are the structural pins of repeated folds
    row("orders_mor_autocompact_streamed",
      (s, d) => streaming.CdcStream.morAutoCompactStreamed(s, d), """
      WITH up AS (SELECT o_orderkey AS k,
                    (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                      AS nc
                  FROM orders WHERE o_orderkey % 500 = 0),
      kept AS (SELECT CASE WHEN o_orderkey % 500 = 0
                        THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 11)
                             // 10
                        ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                      END AS c
               FROM orders
               WHERE NOT (o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0)),
      allr AS (SELECT c FROM kept UNION ALL SELECT nc FROM up)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(2 AS BIGINT) AS n_folds,
             CAST(0 AS BIGINT) AS n_live_batches,
             CAST(sum(c) AS BIGINT) AS total_cents
      FROM allr"""),

    // the SIZE policy under the gate: count trigger
    // provably inert (maxLive = 100), 1-byte budget — every fold is
    // byte-triggered (4 generations vs the count row's 2), same
    // composed end state
    // the BYTE-triggered twin: count trigger inert at
    // maxLive = 100, 1-byte budget — a fold per chunk (4 generations),
    // zero live tail, identical composed end state
    row("orders_mor_autocompact_bytes",
      (s, d) => streaming.CdcStream.morAutoCompactBytesStreamed(s, d), """
      WITH up AS (SELECT o_orderkey AS k,
                    (CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                      AS nc
                  FROM orders WHERE o_orderkey % 500 = 0),
      kept AS (SELECT CASE WHEN o_orderkey % 500 = 0
                        THEN (CAST(round(o_totalprice * 100) AS BIGINT) * 11)
                             // 10
                        ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                      END AS c
               FROM orders
               WHERE NOT (o_orderkey % 700 = 0 AND o_orderkey % 500 <> 0)),
      allr AS (SELECT c FROM kept UNION ALL SELECT nc FROM up)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(4 AS BIGINT) AS n_folds,
             CAST(0 AS BIGINT) AS n_live_batches,
             CAST(sum(c) AS BIGINT) AS total_cents
      FROM allr"""),

    // SNAPSHOT EXPIRY (retention): versions below the horizon fold
    // into a new base, every RETAINED boundary reads back identically
    // retention: the horizon boundary (v=1, served by the folded base
    // alone) and every live version above it must read back exactly as
    // the unexpired chain would serve them; the expired count (v0, v1)
    // is the structural design pin of the keepFrom=2 horizon
    row("orders_cdc_expired", (s, d) => streaming.CdcStream.expiredChainSummary(s, d),
      """
      WITH vs AS (SELECT range AS v FROM range(1, 4)),
      base AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS c
               FROM orders),
      st AS (
        SELECT vs.v,
               CASE WHEN b.k % 500 = 0 AND ((b.k // 500) % 4) <= vs.v
                 THEN (b.c * 11) // 10 ELSE b.c END AS c
        FROM vs, base b
        WHERE NOT (b.k % 700 = 0 AND b.k % 500 <> 0
                   AND ((b.k // 500) % 4) <= vs.v)
        UNION ALL
        SELECT vs.v, (b.c * 11) // 10 AS c
        FROM vs, base b
        WHERE b.k % 500 = 0 AND ((b.k // 500) % 4) <= vs.v)
      SELECT CAST(v AS BIGINT) AS version,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(c) AS BIGINT) AS total_cents,
             CAST(2 AS BIGINT) AS n_versions_expired
      FROM st GROUP BY 1"""),

    // denormalized per-customer lifetime-value rollup
    // same rollup + broadcast-dimension shape in plain SQL
    row("orders_customer_ltv", Relational.customerLtv _, s"""
      WITH a AS (SELECT o_custkey,
                        count(*) AS n_orders,
                        sum(${c100("o_totalprice")}) / 100.0 AS total_spend,
                        round(CAST(sum(${c100("o_totalprice")}) AS DOUBLE)
                              / count(*) / 100.0, 6) AS avg_order_value,
                        min(CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT))
                          AS first_order_epday,
                        max(CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT))
                          AS last_order_epday
                 FROM orders GROUP BY 1)
      SELECT a.o_custkey AS custkey, c.c_mktsegment, a.n_orders,
             a.total_spend, a.avg_order_value, a.first_order_epday,
             a.last_order_epday,
             a.last_order_epday - a.first_order_epday AS tenure_days
      FROM a JOIN customer c ON a.o_custkey = c.c_custkey"""),

    // RFM quartile scoring over the LTV rollup
    row("orders_rfm_segments", Relational.rfmSegments _, s"""
      WITH a AS (SELECT o_custkey AS custkey,
                        count(*) AS n_orders,
                        sum(${c100("o_totalprice")}) / 100.0 AS total_spend,
                        max(CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT))
                          AS last_order_epday
                 FROM orders GROUP BY 1)
      SELECT custkey, n_orders, total_spend, last_order_epday,
             CAST(ntile(4) OVER (ORDER BY last_order_epday, custkey)
                  AS INT) AS r,
             CAST(ntile(4) OVER (ORDER BY n_orders, custkey) AS INT) AS f,
             CAST(ntile(4) OVER (ORDER BY total_spend, custkey) AS INT) AS m,
             CAST(ntile(4) OVER (ORDER BY last_order_epday, custkey) AS VARCHAR)
               || CAST(ntile(4) OVER (ORDER BY n_orders, custkey) AS VARCHAR)
               || CAST(ntile(4) OVER (ORDER BY total_spend, custkey) AS VARCHAR)
               AS rfm
      FROM a"""),

    // open-order backlog aging: integer epoch-day ages vs the max
    // order date, bucketed, counts + open cents value per status
    // aging replay: same epoch-day ages, same bucket bounds, exact
    // cent sums divided once
    row("orders_backlog_aging", Relational.backlogAging _, """
      WITH o AS (SELECT o_orderstatus AS status,
                   epoch_us(o_orderdate) // 86400000000 AS d,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS c
                 FROM orders WHERE o_orderstatus IN ('O', 'P')),
      mx AS (SELECT max(epoch_us(o_orderdate) // 86400000000) AS mx
             FROM orders)
      SELECT status,
             CASE WHEN mx - d <= 30 THEN 'a_0_30'
                  WHEN mx - d <= 90 THEN 'b_31_90'
                  WHEN mx - d <= 365 THEN 'c_91_365'
                  ELSE 'd_over_365' END AS age_bucket,
             count(*) AS n_orders,
             sum(c) / 100.0 AS open_value
      FROM o CROSS JOIN mx GROUP BY 1, 2"""),

    // supplier-concentration HHI per part type (picounit-quantized
    // share^2 terms, DOJ x10000 convention, 2500 flag)
    // the LTV CTE re-quartiled with identical custkey tie-breaks
    // HHI replay: same cent revenue rollup, same picounit-quantized
    // squared shares, same x10000 scaling and 2500 flag
    row("orders_supplier_hhi", Relational.supplierHhi _, """
      WITH rev AS (SELECT p.p_type, l.l_suppkey,
                     sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                       AS r
                   FROM lineitem l JOIN part p
                     ON l.l_partkey = p.p_partkey
                   GROUP BY 1, 2),
      tot AS (SELECT p_type, sum(r) AS t, count(*) AS ns
              FROM rev GROUP BY 1),
      q AS (SELECT rev.p_type, any_value(tot.ns) AS ns,
              sum(CAST(round((CAST(rev.r AS DOUBLE) / tot.t)
                * (CAST(rev.r AS DOUBLE) / tot.t)
                * 1000000000000.0) AS BIGINT)) AS qsum
            FROM rev JOIN tot USING (p_type) GROUP BY 1)
      SELECT p_type, CAST(ns AS BIGINT) AS n_suppliers,
             round(CAST(qsum AS DOUBLE) / 1000000000000.0 * 10000.0, 2)
               AS hhi,
             CASE WHEN round(CAST(qsum AS DOUBLE) / 1000000000000.0
               * 10000.0, 2) > 2500.0 THEN 1 ELSE 0 END AS concentrated
      FROM q"""),

    // 80/20 revenue concentration over the customer rollup
    // exact-cents rollup, then global-order windows on the rollup only
    row("orders_revenue_pareto", Relational.revenuePareto _, s"""
      WITH s AS (SELECT o_custkey AS custkey,
                        CAST(sum(${c100("o_totalprice")}) AS BIGINT) AS cents
                 FROM orders GROUP BY 1),
      r AS (SELECT custkey, cents,
                   row_number() OVER (ORDER BY cents DESC, custkey) AS rk,
                   sum(cents) OVER (ORDER BY cents DESC, custkey
                     ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cents) OVER () AS tot
            FROM s)
      SELECT custkey, cents / 100.0 AS spend, CAST(rk AS BIGINT) AS rk,
             round(cum / CAST(tot AS DOUBLE), 6) AS cum_share,
             CASE WHEN round(cum / CAST(tot AS DOUBLE), 6) <= 0.8
                  THEN 1 ELSE 0 END AS top80
      FROM r"""),
  )
}
