package graft
package queries

import graft.operators.{Relational, TemporalJoins}
import OracleSql.c100

/** TPC-H-style relational rows, temporal joins and single-feature SQL
  * showcases (q1-q22, windows, set ops, pivots, scalar functions, as-of).
  */
object RelationalQueries {

  private val row = new Declared.Family(readsMemos = false)

  val rows: Seq[Declared] = Seq(
    // — relational coverage (north-star; SURVEY §2.3/2.4 absent cats) —
    row("q1_pricing_summary", Relational.q1PricingSummary _, s"""
      WITH li AS (SELECT l_returnflag, l_linestatus,
          ${c100("l_quantity")} AS q100, ${c100("l_extendedprice")} AS p100,
          ${c100("(1-l_discount)")} AS dm100, ${c100("(1+l_tax)")} AS tp100,
          ${c100("l_discount")} AS d100
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
      SELECT l_returnflag, l_linestatus,
        sum(q100)/100.0 AS sum_qty,
        sum(p100)/100.0 AS sum_base_price,
        sum(p100*dm100)/10000.0 AS sum_disc_price,
        sum(p100*dm100*tp100)/1000000.0 AS sum_charge,
        sum(q100)/(count(*)*100.0) AS avg_qty,
        sum(p100)/(count(*)*100.0) AS avg_price,
        sum(d100)/(count(*)*100.0) AS avg_disc,
        count(*) AS count_order
      FROM li GROUP BY 1,2 ORDER BY 1,2"""),

    row("q3_shipping_priority", Relational.q3ShippingPriority _, s"""
      SELECT l.l_orderkey,
        CAST(epoch(o.o_orderdate) AS BIGINT) AS o_odate_epoch,
        o.o_orderpriority,
        sum(${c100("l.l_extendedprice")} * ${c100("(1-l.l_discount)")})/10000.0 AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-03-15'
        AND l.l_shipdate > TIMESTAMP '1998-03-15'
      GROUP BY 1,2,3 ORDER BY revenue DESC, l.l_orderkey LIMIT 10"""),

    row("q5_region_revenue", Relational.q5RegionRevenue _, s"""
      SELECT n.n_name,
        sum(${c100("l.l_extendedprice")} * ${c100("(1-l.l_discount)")})/10000.0 AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1 ORDER BY revenue DESC, n.n_name"""),

    row("topk_orders_per_segment", Relational.topOrdersPerSegment _, """
      SELECT c_mktsegment, CAST(rk AS INT) AS rk, o_orderkey, o_totalprice
      FROM (SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
              row_number() OVER (PARTITION BY c.c_mktsegment
                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
      WHERE rk <= 5"""),

    row("rollup_lineitem", Relational.rollupLineitem _, s"""
      SELECT l_returnflag, l_linestatus,
             sum(q100)/100.0 AS sum_qty, count(*) AS n
      FROM (SELECT l_returnflag, l_linestatus,
              ${c100("l_quantity")} AS q100 FROM lineitem)
      GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),

    row("setop_priority_custkeys", Relational.setOpPriorityCustomers _, """
      (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'"""),

    row("anti_customers_no_orders", Relational.customersWithoutOrders _, """
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1998-06-01')"""),

    row("semi_customers_urgent", Relational.customersWithUrgentOrders _, """
      SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')"""),

    row("fullouter_nation_coverage", Relational.nationCoverage _, """
      WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
                 FROM customer GROUP BY 1),
           s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
                 FROM supplier GROUP BY 1)
      SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
             coalesce(n_cust, 0) AS n_cust,
             coalesce(n_supp, 0) AS n_supp
      FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey"""),

    // kept in Bench's cached section so its timing history stays comparable
    Declared("sql_revenue_by_priority",
      Relational.sqlRevenueByPriority _, readsMemos = true,
      oracle = s"""
      SELECT o.o_orderpriority,
             count(DISTINCT o.o_orderkey) AS n_orders,
             sum(${c100("l.l_extendedprice")} * ${c100("(1-l.l_discount)")}) / 10000.0 AS revenue
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1"""),

    row("cube_lineitem", Relational.cubeLineitem _, s"""
      SELECT l_returnflag, l_linestatus,
             sum(q100)/100.0 AS sum_qty, count(*) AS n
      FROM (SELECT l_returnflag, l_linestatus,
              ${c100("l_quantity")} AS q100 FROM lineitem)
      GROUP BY CUBE(l_returnflag, l_linestatus)"""),

    row("q4_exists_late_discount", Relational.ordersWithLateDiscountedLines _, """
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      AND l.l_discount >= 0.05)
      GROUP BY 1"""),

    row("q18_large_orders", Relational.largeVolumeOrders _, s"""
      WITH big AS (
        SELECT l_orderkey, sum(${c100("l_quantity")}) AS q100
        FROM lineitem GROUP BY 1 HAVING sum(${c100("l_quantity")}) > 30000)
      SELECT c.c_custkey, c.c_name, o.o_orderkey,
             CAST(epoch(o.o_orderdate) AS BIGINT) AS o_odate_epoch,
             o.o_totalprice, big.q100 / 100.0 AS total_qty
      FROM orders o
      JOIN big ON o.o_orderkey = big.l_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey"""),

    row("window_customer_orders", Relational.customerOrderWindows _, s"""
      SELECT o_custkey, o_orderkey,
             CAST(epoch(o_orderdate) AS BIGINT) AS o_odate_epoch,
             row_number() OVER w AS order_seq,
             sum(${c100("o_totalprice")})
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) / 100.0 AS run_spend,
             CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate)
               AS BIGINT) AS gap_days
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),

    row("window_analytics_extras", Relational.windowAnalyticsExtras _, """
      SELECT c.c_mktsegment, o.o_orderkey,
             CAST(ntile(4) OVER w AS INT) AS quartile,
             round(percent_rank() OVER w, 6) AS pct_rank,
             round(cume_dist() OVER w, 6) AS cume,
             first_value(o.o_orderkey) OVER w AS first_okey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WINDOW w AS (PARTITION BY c.c_mktsegment
                   ORDER BY o.o_totalprice ASC, o.o_orderkey ASC)"""),

    row("scalar_part_showcase", Relational.partScalarShowcase _, """
      SELECT p_partkey,
             upper(p_name) AS up_name,
             length(p_name) AS name_len,
             substr(p_name, 1, 8) AS name_pfx,
             replace(p_type, ' ', '_') AS type_u,
             split_part(p_type, ' ', 1) AS type_head,
             strpos(p_name, 'a') AS pos_a,
             concat_ws('-', p_brand, p_type) AS brand_type,
             abs(p_size - 25) AS size_dist,
             greatest(p_size, 25) AS size_hi,
             round(p_retailprice * 7, 2) AS price_x7
      FROM part"""),

    row("pivot_priority_segment", Relational.pivotPrioritySegment _, """
      SELECT c.c_mktsegment,
             count(*) FILTER (o.o_orderpriority = '1-URGENT') AS "1-URGENT",
             count(*) FILTER (o.o_orderpriority = '2-HIGH') AS "2-HIGH",
             count(*) FILTER (o.o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
             count(*) FILTER (o.o_orderpriority = '4-NOT SPECIFIED')
               AS "4-NOT SPECIFIED",
             count(*) FILTER (o.o_orderpriority = '5-LOW') AS "5-LOW"
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1"""),

    row("setop_all_priorities", Relational.setOpAllVariants _, """
      WITH b AS (SELECT o_orderpriority FROM orders o
                 JOIN customer c ON o.o_custkey = c.c_custkey
                 WHERE c.c_mktsegment = 'BUILDING'),
           m AS (SELECT o_orderpriority FROM orders o
                 JOIN customer c ON o.o_custkey = c.c_custkey
                 WHERE c.c_mktsegment = 'MACHINERY'),
           i AS (SELECT o_orderpriority, count(*) AS n_common
                 FROM (SELECT * FROM b INTERSECT ALL SELECT * FROM m)
                 GROUP BY 1),
           x AS (SELECT o_orderpriority, count(*) AS n_only_building
                 FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM m)
                 GROUP BY 1)
      SELECT coalesce(i.o_orderpriority, x.o_orderpriority) AS o_orderpriority,
             coalesce(i.n_common, 0) AS n_common,
             coalesce(x.n_only_building, 0) AS n_only_building
      FROM i FULL OUTER JOIN x ON i.o_orderpriority = x.o_orderpriority"""),

    row("grouping_sets_lineitem", Relational.groupingSetsLineitem _, s"""
      SELECT l_returnflag, l_linestatus,
             sum(${c100("l_quantity")}) / 100.0 AS sum_qty,
             count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""),

    row("posexplode_tokens", Relational.posexplodeTokens _, """
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[CAST(i AS INT)] AS token
      FROM (SELECT doc_id, string_split(text, ' ')[1:5] AS w FROM documents),
           range(1, 6) t(i)
      WHERE i <= len(w)"""),

    row("argmax_events", Relational.argmaxEvents _, s"""
      WITH e AS (SELECT event_type, event_id,
                        ${c100("value")} AS v100 FROM events)
      SELECT event_type, event_id AS top_event_id,
             max(v100) OVER (PARTITION BY event_type) / 100.0 AS max_value
      FROM e
      QUALIFY row_number() OVER (PARTITION BY event_type
        ORDER BY v100 DESC, event_id DESC) = 1"""),

    row("scalar_order_dates", Relational.orderDateParts _, """
      SELECT o_orderkey,
             CAST(year(o_orderdate) AS INT) AS y,
             CAST(month(o_orderdate) AS INT) AS m,
             CAST(day(o_orderdate) AS INT) AS d,
             CAST(quarter(o_orderdate) AS INT) AS q,
             CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT)
               AS month_start
      FROM orders"""),

    // regex extract / global replace / match-test (portable subset)
    row("scalar_regex_showcase", Relational.regexShowcase _, """
      SELECT p_partkey,
             regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
             regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_devowel,
             CAST(regexp_matches(p_name, '^[a-z]+ ') AS INT)
               AS starts_lower_word
      FROM part"""),

    row("q6_forecast_revenue", Relational.q6ForecastRevenue _, s"""
      SELECT sum(${c100("l_extendedprice")} * ${c100("l_discount")})
               / CAST(10000 AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24"""),

    row("q7_volume_shipping", Relational.q7VolumeShipping _, s"""
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INT) AS l_year,
             sum(${c100("l.l_extendedprice")} * ${c100("(1 - l.l_discount)")})
               / CAST(10000 AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        AND ((sn.n_name = 'NATION_6' AND cn.n_name = 'NATION_9')
          OR (sn.n_name = 'NATION_9' AND cn.n_name = 'NATION_6'))
      GROUP BY 1, 2, 3"""),

    row("q8_market_share", Relational.q8MarketShare _, s"""
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             round(CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
                                 THEN ${c100("l.l_extendedprice")} * ${c100("(1 - l.l_discount)")}
                                 ELSE 0 END) AS DOUBLE)
                   / sum(${c100("l.l_extendedprice")} * ${c100("(1 - l.l_discount)")}),
                   6) AS mkt_share
      FROM lineitem l
      JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      JOIN region r   ON nc.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1"""),

    row("q10_returned_items", Relational.q10ReturnedItems _, s"""
      SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
             sum(${c100("l.l_extendedprice")} * ${c100("(1 - l.l_discount)")})
               / CAST(10000 AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
        AND o.o_orderdate <  TIMESTAMP '1996-10-01'
        AND l.l_returnflag = 'R'
      GROUP BY 1, 2, 3, 4
      ORDER BY revenue DESC, c.c_custkey ASC
      LIMIT 20"""),

    row("q13_customer_distribution", Relational.q13CustomerDistribution _, """
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY 1)
      GROUP BY 1"""),

    row("q14_promo_effect", Relational.q14PromoEffect _, s"""
      SELECT round(100.0 *
               CAST(sum(CASE WHEN p.p_type = 'PROMO'
                             THEN ${c100("l.l_extendedprice")} * ${c100("(1 - l.l_discount)")}
                             ELSE 0 END) AS DOUBLE)
               / sum(${c100("l.l_extendedprice")} * ${c100("(1 - l.l_discount)")}),
               6) AS promo_revenue_pct
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
        AND l.l_shipdate <  TIMESTAMP '1996-10-01'"""),

    row("q15_top_supplier", Relational.q15TopSupplier _, s"""
      WITH rev AS (
        SELECT l_suppkey,
               sum(${c100("l_extendedprice")} * ${c100("(1 - l_discount)")}) AS r100
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY 1)
      SELECT s.s_suppkey, s.s_name, r100 / CAST(10000 AS DOUBLE) AS total_revenue
      FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
      WHERE r100 = (SELECT max(r100) FROM rev)"""),

    row("q16_supplier_diversity", Relational.q16SupplierDiversity _, """
      SELECT p.p_brand, p.p_type, p.p_size,
             count(DISTINCT l.l_suppkey) AS supplier_cnt
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        AND l.l_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal < 600)
      GROUP BY 1, 2, 3"""),

    row("q17_small_qty_revenue", Relational.q17SmallQuantityRevenue _, s"""
      SELECT round(sum(p100) / 100.0 / 7.0, 2) AS avg_yearly FROM (
        SELECT ${c100("l.l_extendedprice")} AS p100,
               ${c100("l.l_quantity")} AS q100,
               sum(${c100("l.l_quantity")})
                 OVER (PARTITION BY l.l_partkey) AS sum_q100,
               count(*) OVER (PARTITION BY l.l_partkey) AS n_li
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#3' AND p.p_type = 'SMALL')
      WHERE q100 * 5 * n_li < sum_q100"""),

    row("q19_bracket_revenue", Relational.q19BracketRevenue _, s"""
      SELECT sum(${c100("l.l_extendedprice")} * ${c100("(1 - l.l_discount)")})
               / CAST(10000 AS DOUBLE) AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 5
             AND l.l_quantity BETWEEN 1 AND 11)
         OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
             AND l.l_quantity BETWEEN 10 AND 20)
         OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 20 AND 30)"""),

    row("q22_idle_balance", Relational.q22IdleBalance _, s"""
      WITH pos AS (
        SELECT sum(${c100("c_acctbal")}) AS sum100, count(*) AS n
        FROM customer WHERE ${c100("c_acctbal")} > 0)
      SELECT c.c_nationkey, count(*) AS numcust,
             sum(${c100("c.c_acctbal")}) / CAST(100 AS DOUBLE) AS totacctbal
      FROM customer c, pos
      WHERE ${c100("c.c_acctbal")} * pos.n > pos.sum100
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY 1"""),

    row("q2_min_cost_supplier", Relational.q2MinCostSupplier _, s"""
      WITH l AS (
        SELECT p.p_partkey, p.p_brand, p.p_size, li.l_suppkey,
               ${c100("li.l_extendedprice")} AS p100,
               ${c100("li.l_quantity")} AS q100
        FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
        WHERE p.p_type = 'SMALL' AND p.p_size BETWEEN 10 AND 20),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY p_partkey
                 ORDER BY CAST(p100 AS DOUBLE) / q100, l_suppkey) AS rk,
               min(CAST(p100 AS DOUBLE) / q100)
                 OVER (PARTITION BY p_partkey) AS mn
        FROM l)
      SELECT r.p_partkey, r.p_brand, r.p_size, r.l_suppkey AS s_suppkey,
             s.s_name, round(r.mn, 6) AS min_unit_price
      FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
      WHERE r.rk = 1"""),

    row("lateral_top_orders", Relational.lateralTopOrders _, """
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c
      JOIN LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders x
        WHERE x.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 2) o ON true
      WHERE c.c_mktsegment = 'BUILDING'"""),

    row("scalar_subquery_max_qty", Relational.scalarSubqueryMaxQty _, """
      SELECT o.o_orderkey,
             (SELECT CAST(round(max(l.l_quantity) * 100) AS BIGINT)
              FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey) AS max_qty100
      FROM orders o
      WHERE o.o_orderpriority = '1-URGENT'"""),

    row("q12_priority_shipping", Relational.q12PriorityShipping _, """
      SELECT l.l_linestatus,
             CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1"""),

    row("q9_profit_by_nation", Relational.q9ProfitByNation _, s"""
      SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
             sum(${c100("l.l_extendedprice")} * ${c100("(1 - l.l_discount)")}
                 - ${c100("p.p_retailprice")} * ${c100("l.l_quantity")})
               / CAST(10000 AS DOUBLE) AS profit
      FROM lineitem l
      JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%a%'
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2"""),

    row("q11_important_parts", Relational.q11ImportantParts _, s"""
      WITH pp AS (
        SELECT l.l_partkey AS p_partkey,
               sum(${c100("l.l_extendedprice")} * ${c100("l.l_quantity")}) AS v10k
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
         AND n.n_name = 'NATION_3'
        GROUP BY 1),
      t AS (SELECT sum(v10k) AS total10k FROM pp)
      SELECT pp.p_partkey, pp.v10k / CAST(10000 AS DOUBLE) AS value
      FROM pp, t
      WHERE pp.v10k * 1000 > t.total10k"""),

    row("q20_excess_shippers", Relational.q20ExcessShippers _, s"""
      SELECT s.s_suppkey, s.s_name, s.s_acctbal
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_9'
      WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_type = 'SMALL'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1
        HAVING sum(${c100("l.l_quantity")}) > 10000)"""),

    row("q21_sole_suppliers", Relational.q21SoleSuppliers _, """
      WITH po AS (
        SELECT l.l_orderkey, count(*) AS n_lines,
               count(DISTINCT l.l_suppkey) AS n_supps,
               max(l.l_suppkey) AS the_supp
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
         AND o.o_orderstatus = 'F'
        GROUP BY 1)
      SELECT the_supp AS s_suppkey, count(*) AS numwait
      FROM po WHERE n_lines > 1 AND n_supps = 1
      GROUP BY 1"""),

    // — temporal joins (as-of / range — custom operators) —
    // as-of: latest preceding click per error event (ties: max event_id);
    // the oracle is the explicit inequality-join + window form — our
    // engine computes the same thing with a single-shuffle union-merge
    row("asof_error_click", TemporalJoins.asofErrorClick _, """
      WITH err AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'error'),
           clk AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click')
      SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
             c.event_id AS prev_click_id,
             epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
      FROM err e LEFT JOIN clk c
        ON e.user_id = c.user_id AND c.ts <= e.ts
      QUALIFY row_number() OVER (PARTITION BY e.event_id
        ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) = 1"""),

    row("asof_next_click", TemporalJoins.asofNextErrorClick _, """
      WITH err AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'error'),
           clk AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click')
      SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
             c.event_id AS next_click_id,
             epoch_us(c.ts) - epoch_us(e.ts) AS gap_us
      FROM err e LEFT JOIN clk c
        ON e.user_id = c.user_id AND c.ts >= e.ts
           AND epoch_us(c.ts) - epoch_us(e.ts) <= 600000000
      QUALIFY row_number() OVER (PARTITION BY e.event_id
        ORDER BY c.ts ASC NULLS LAST, c.event_id ASC NULLS LAST) = 1"""),

    row("range_events_5min", TemporalJoins.eventsWithin5min _, """
      SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
             abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
      FROM events a JOIN events b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
       AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000"""),

    // UNPIVOT/melt: pivot's inverse via stack
    // melt replayed as UNION ALL (the portable unpivot)
    row("unpivot_lineitem_measures", Relational.unpivotLineitemMeasures _, {
      val wide = s"""SELECT l_returnflag,
          sum(${c100("l_quantity")}) / 100.0 AS sum_qty,
          sum(${c100("l_extendedprice")}) / 100.0 AS sum_price,
          sum(${c100("l_discount")}) / 100.0 AS sum_disc
        FROM lineitem GROUP BY 1"""
      s"""WITH w AS ($wide)
          SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
          UNION ALL
          SELECT l_returnflag, 'sum_price', sum_price FROM w
          UNION ALL
          SELECT l_returnflag, 'sum_disc', sum_disc FROM w"""
    }),
  )
}
