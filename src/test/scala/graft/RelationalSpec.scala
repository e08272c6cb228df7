package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Row-level sanity plus PLAN-SHAPE assertions: the scale contract is
  * that dims broadcast, filters push into the parquet scan, and aggs are
  * partial. These assertions fail if a code change regresses the plan.
  */
class RelationalSpec extends SparkSpec {

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: shipdate filter is pushed to the parquet scan") {
    val plan = physicalPlan(Relational.q1PricingSummary(spark, sf0001))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("HashAggregate"), "expected partial hash aggregation")
  }

  test("q1: six groups, charge >= disc_price >= 0") {
    val rows = Relational.q1PricingSummary(spark, sf0001).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val discPrice = r.getAs[Double]("sum_disc_price")
      val charge = r.getAs[Double]("sum_charge")
      assert(charge >= discPrice && discPrice >= 0)
    }
  }

  test("q3: customer and orders sides are broadcast (no fact shuffle join)") {
    val plan = physicalPlan(Relational.q3ShippingPriority(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"lineitem should never sort-merge against broadcast dims:\n$plan")
  }

  test("q5: returns revenue per European nation, descending") {
    val rows = Relational.q5RegionRevenue(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("topk per segment: exactly 5 per segment, descending within") {
    val rows = Relational.topOrdersPerSegment(spark, sf0001).collect()
    val bySeg = rows.groupBy(_.getAs[String]("c_mktsegment"))
    assert(bySeg.size == 5 && bySeg.values.forall(_.length == 5))
  }

  test("rollup emits detail + subtotal + grand-total rows") {
    val rows = Relational.rollupLineitem(spark, sf0001).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    val subtotals = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 && subtotals.nonEmpty)
    assert(grand.head.getAs[Long]("n") == 6000)
  }

  test("semi/anti partition the customers consistently") {
    val urgent = Relational.customersWithUrgentOrders(spark, sf0001).count()
    val noOrders = Relational.customersWithoutOrders(spark, sf0001).count()
    val total = Tables.customer(spark, sf0001).count()
    assert(urgent <= total && noOrders <= total)
    // non-vacuous by construction (r5 verdict #5): the 1998-06-01 slice
    // leaves customers without recent orders even on the tiny fixture
    assert(noOrders > 0, "anti join must certify logic, not emptiness")
  }

  test("q4-exists: correlated predicate plans as a semi join, counts bounded") {
    val df = Relational.ordersWithLateDiscountedLines(spark, sf0001)
    assert(physicalPlan(df).contains("LeftSemi"), "expected left-semi join")
    val total = Tables.orders(spark, sf0001).count()
    val rows = df.collect()
    assert(rows.nonEmpty && rows.map(_.getAs[Long]("n_orders")).sum <= total)
  }

  test("q18: every returned order's quantity exceeds the HAVING threshold") {
    val rows = Relational.largeVolumeOrders(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("total_qty") > 300.0))
  }

  test("window: running spend is nondecreasing within each customer") {
    val rows = Relational.customerOrderWindows(spark, sf0001).collect()
    rows.groupBy(_.getAs[Long]("o_custkey")).values.foreach { os =>
      val bySeq = os.sortBy(_.getAs[Int]("order_seq"))
      val spends = bySeq.map(_.getAs[Double]("run_spend"))
      assert(spends.zip(spends.drop(1)).forall { case (a, b) => b >= a })
      assert(bySeq.head.isNullAt(bySeq.head.fieldIndex("gap_days")),
        "first order per customer must have NULL gap")
    }
  }

  test("scalar showcase: engine-portable string/math semantics hold") {
    val r = Relational.partScalarShowcase(spark, sf0001)
      .filter(col("p_partkey") === 1).head()
    assert(r.getAs[String]("up_name").toLowerCase ==
      r.getAs[String]("up_name").toUpperCase.toLowerCase)
    assert(r.getAs[String]("name_pfx").length <= 8)
    assert(!r.getAs[String]("type_u").contains(" "))
  }

  test("date parts: quarter agrees with month for every order") {
    val bad = Relational.orderDateParts(spark, sf0001)
      .filter(col("q") =!= ((col("m") + 2) / 3).cast("int")).count()
    assert(bad == 0)
  }

  test("q6: all predicates push to the scan; one non-negative scalar") {
    val df = Relational.q6ForecastRevenue(spark, sf0001)
    val plan = physicalPlan(df)
    assert(plan.contains("PushedFilters") && plan.contains("l_discount"),
      s"discount filter not pushed:\n$plan")
    val rows = df.collect()
    assert(rows.length == 1)
    assert(Option(rows.head.getAs[java.lang.Double]("revenue")).forall(_ >= 0))
  }

  test("q7: nation pair is symmetric and years lie in the ship window") {
    // sf0.001 has no lineitem for this nation pair; invariants only
    val rows = Relational.q7VolumeShipping(spark, sf0001).collect()
    rows.foreach { r =>
      val sn = r.getAs[String]("supp_nation")
      val cn = r.getAs[String]("cust_nation")
      assert(Set(sn, cn) == Set("NATION_6", "NATION_9"))
      val y = r.getAs[Int]("l_year")
      assert(y == 1996 || y == 1997)
    }
  }

  test("q7/q8: dims broadcast; only the fact-fact join may shuffle") {
    for (df <- Seq(Relational.q7VolumeShipping(spark, sf0001),
                   Relational.q8MarketShare(spark, sf0001))) {
      val plan = physicalPlan(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"expected broadcast dim joins:\n$plan")
      val smj = "SortMergeJoin".r.findAllIn(plan).length
      assert(smj <= 1,
        s"only lineitem x orders may sort-merge, found $smj:\n$plan")
    }
  }

  test("q8: market share is a fraction per year") {
    val rows = Relational.q8MarketShare(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("mkt_share")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("q10: top-20 returned-revenue customers, descending") {
    val rows = Relational.q10ReturnedItems(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-(_: Double))))
  }

  test("q13: distribution covers every customer exactly once") {
    val rows = Relational.q13CustomerDistribution(spark, sf0001).collect()
    val total = rows.map(_.getAs[Long]("custdist")).sum
    assert(total == Tables.customer(spark, sf0001).count())
  }

  test("q14: promo share is a percentage") {
    val r = Relational.q14PromoEffect(spark, sf0001).head()
    val pct = r.getAs[Double]("promo_revenue_pct")
    assert(pct >= 0.0 && pct <= 100.0)
  }

  test("q15: every returned supplier achieves the same (max) revenue") {
    val rows = Relational.q15TopSupplier(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Double]("total_revenue")).distinct.length == 1)
  }

  test("q16: anti join excludes low-balance suppliers from every count") {
    val rows = Relational.q16SupplierDiversity(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nOk = Tables.supplier(spark, sf0001)
      .filter(col("s_acctbal") >= 600).count()
    rows.foreach { r =>
      val c = r.getAs[Long]("supplier_cnt")
      assert(c >= 1 && c <= nOk)
    }
  }

  test("q17: integer-exact below-average filter yields a bounded scalar") {
    val rows = Relational.q17SmallQuantityRevenue(spark, sf0001).collect()
    assert(rows.length == 1)
    // may legitimately be NULL if no line is below 20% of its part avg
    val v = rows.head.getAs[java.lang.Double]("avg_yearly")
    assert(v == null || v >= 0)
  }

  test("q19: disjunctive brackets produce a single non-negative scalar") {
    val r = Relational.q19BracketRevenue(spark, sf0001).head()
    val v = r.getAs[java.lang.Double]("revenue")
    assert(v == null || v >= 0)
  }

  test("q2: one supplier per part, and it attains the minimum unit price") {
    val rows = Relational.q2MinCostSupplier(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("p_partkey")).distinct.length == rows.length)
    rows.foreach(r => assert(r.getAs[Double]("min_unit_price") > 0))
  }

  test("q12: high+low line counts partition the shipped lines") {
    val rows = Relational.q12PriorityShipping(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val total = rows.map(r => r.getAs[Long]("high_line_count") +
      r.getAs[Long]("low_line_count")).sum
    val expect = Tables.lineitem(spark, sf0001)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01"))).count()
    assert(total == expect)
  }

  test("q20: every excess shipper is from NATION_9 and over threshold") {
    val rows = Relational.q20ExcessShippers(spark, sf0001).collect()
    val n9 = Tables.supplier(spark, sf0001)
      .join(Tables.nation(spark, sf0001)
        .filter(col("n_name") === "NATION_9"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(n9.contains(r.getAs[Long]("s_suppkey"))))
  }

  test("q21: sole-supplier counts never exceed the order count") {
    val rows = Relational.q21SoleSuppliers(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val orders = Tables.orders(spark, sf0001)
      .filter(col("o_orderstatus") === "F").count()
    assert(rows.map(_.getAs[Long]("numwait")).sum <= orders)
  }

  test("lateral: at most 2 orders per customer, descending within") {
    val rows = Relational.lateralTopOrders(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("c_custkey")).values.foreach { os =>
      assert(os.length <= 2)
      val ps = os.map(_.getAs[Double]("o_totalprice"))
      assert(ps.sameElements(ps.sortBy(-(_: Double))))
    }
  }

  test("lateral: decorrelated top-k executes on the bounded heap — " +
      "no Sort, no Window (r5 verdict #4)") {
    val plan = physicalPlan(Relational.lateralTopOrders(spark, sf0001))
    assert(plan.contains("TopKPerGroup"), s"heap operator missing:\n$plan")
    assert(!plan.contains("Window"), s"Window survived the rewrite:\n$plan")
    assert(!plan.contains("Sort "), s"a sort survived the rewrite:\n$plan")
  }

  test("scalar subquery: max quantity matches a grouped-join recompute") {
    val got = Relational.scalarSubqueryMaxQty(spark, sf0001)
    val expect = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT")
      .join(Tables.lineitem(spark, sf0001)
          .groupBy(col("l_orderkey"))
          .agg(max(round(col("l_quantity") * 100).cast("long")).as("mx")),
        col("o_orderkey") === col("l_orderkey"), "left_outer")
      .select(col("o_orderkey"), col("mx").as("max_qty100"))
    // compare driver-side: unioning the subquery-rewritten plan with the
    // grouped-join plan (what exceptAll does) trips a Catalyst
    // constraint-propagation bug (key not found in AttributeMap)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
    assert(got.collect().map(key).toSet == expect.collect().map(key).toSet)
  }

  test("q22: idle-balance customers all exceed the positive average") {
    import spark.implicits._
    val cust = Tables.customer(spark, sf0001)
    val balances = cust.select(col("c_acctbal")).as[Double].collect()
    val pos = balances.filter(_ > 0)
    val avg = pos.sum / pos.length
    val rows = Relational.q22IdleBalance(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Double]("totacctbal")).sum
    val n = rows.map(_.getAs[Long]("numcust")).sum
    assert(total / n > avg, "per-nation averages all exceed the global positive mean")
  }

  test("q9: profit decomposes as revenue minus cost per (nation, year)") {
    val rows = Relational.q9ProfitByNation(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // every fixture nation ships parts; years within the orders range
    assert(rows.map(_.getAs[Int]("o_year")).forall(y => y >= 1995 && y <= 2001))
    assert(rows.map(r => (r.getString(0), r.getInt(1))).distinct.length == rows.length)
  }

  test("q11: every important part exceeds 0.1% of the nation total") {
    val rows = Relational.q11ImportantParts(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val values = rows.map(_.getAs[Double]("value"))
    val total = Tables.lineitem(spark, sf0001)
      .join(Tables.supplier(spark, sf0001)
          .join(Tables.nation(spark, sf0001)
            .filter(col("n_name") === "NATION_3"),
            col("s_nationkey") === col("n_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round(col("l_quantity") * 100).cast("long")).as("t"))
      .head.getLong(0) / 1e4
    assert(values.forall(_ > total / 1000.0))
  }

  test("rfm: quartiles are balanced, rfm string encodes the scores") {
    val rows = Relational.rfmSegments(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(4), r.getInt(5), r.getInt(6),
        r.getString(7)))
    val n = rows.length
    Seq[((Long, Int, Int, Int, String)) => Int](_._2, _._3, _._4)
      .foreach { dim =>
        val sizes = rows.groupBy(dim).view.mapValues(_.size)
        assert(sizes.keySet == Set(1, 2, 3, 4))
        assert(sizes.values.max - sizes.values.min <= 1, sizes.toMap)
      }
    rows.foreach { case (_, r, f, m, rfm) => assert(rfm == s"$r$f$m") }
    assert(n == Tables.customer(spark, sf0001).count())
  }

  test("rfm: the window and range legs return equal rows") {
    val ltv = Relational.customerLtv(spark, sf0001)
      .select("custkey", "n_orders", "total_spend", "last_order_epday")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("custkey", "r", "f", "m").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .sortBy(_._1)
    val window = rows(Relational.rfmWindow(ltv))
    assert(window.length == Tables.customer(spark, sf0001).count())
    assert(rows(Relational.rfmRange(ltv)).sameElements(window))
  }

  test("customer LTV replays per-customer order scans") {
    val ord = Tables.orders(spark, sf0001)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("c"),
        datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = ord.groupBy(_._1).map { case (ck, g) =>
      ck -> ((g.length.toLong, g.map(_._2).sum / 100.0,
        g.map(_._3).min, g.map(_._3).max))
    }
    val got = Relational.customerLtv(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expect && got.nonEmpty)
    // the customer dimension attaches by broadcast
    val plan = Relational.customerLtv(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
  }

  test("market basket replays driver-side support/confidence/lift") {
    val ob = Tables.lineitem(spark, sf0001)
      .join(Tables.part(spark, sf0001),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val total = ob.map(_._1).distinct.length
    val items = ob.groupBy(_._2).view.mapValues(_.length).toMap
    val pairCounts = ob.groupBy(_._1).values.flatMap { basket =>
      val bs = basket.map(_._2).distinct.sorted
      for (i <- bs.indices; j <- (i + 1) until bs.length) yield (bs(i), bs(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val minSupport = 3 // sf0.001 baskets are sparser than sf0.01's
    val expect = pairCounts.filter(_._2 >= minSupport).map { case ((a, b), n) =>
      (a, b) -> ((n.toLong, r6(n.toDouble / items(a)),
        r6(n.toDouble * total / (items(a).toLong * items(b)))))
    }
    val got = Relational.marketBasketBrands(spark, sf0001, minSupport)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == expect && got.nonEmpty,
      s"got=${got.size} expect=${expect.size}")
  }

  test("unpivot: melt triples the wide rows and preserves every value") {
    import graft.functions.ExactNum._
    val wide = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag"))
      .agg((sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_price"),
        (sum(cents(col("l_discount"))) / 100.0).as("sum_disc"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val long = Relational.unpivotLineitemMeasures(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(long.length == wide.size * 3)
    long.foreach { case (flag, measure, v) =>
      val (q, p, d) = wide(flag)
      val expect = measure match {
        case "sum_qty" => q; case "sum_price" => p; case "sum_disc" => d
      }
      assert(v == expect, s"$flag/$measure")
    }
  }

  test("revenue pareto: ranked permutation, monotone shares ending at 1") {
    val rows = Relational.revenuePareto(spark, sf0001)
      .orderBy(col("rk")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    val nCust = Tables.orders(spark, sf0001)
      .select("o_custkey").distinct().count()
    assert(rows.length == nCust)
    assert(rows.map(_._3).toSeq == (1L to nCust).toSeq, "rank permutation")
    // spend non-increasing down the ranking; cumulative share monotone to 1
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2, s"spend not sorted at rk=${b._3}")
      assert(a._4 <= b._4 + 1e-9, s"cum_share not monotone at rk=${b._3}")
    case _ => () }
    assert(math.abs(rows.last._4 - 1.0) < 1e-6, "last share must be 1")
    // the top80 flag flips exactly once, at the 0.8 boundary
    assert(rows.forall(r => (r._5 == 1) == (r._4 <= 0.8)))
  }

  test("supplier hhi replays driver-side; bounds hold") {
    val rows = Tables.lineitem(spark, sf0001)
      .join(Tables.part(spark, sf0001),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_type"), col("l_suppkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def r2(x: Double) =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = rows.groupBy(_._1).map { case (t, g) =>
      val bySupp = g.groupBy(_._2).map { case (_, v) => v.map(_._3).sum }
      val tot = bySupp.sum
      val q = bySupp.map { r =>
        val s = r.toDouble / tot
        math.round(s * s * 1e12)
      }.sum
      val hhi = r2(q.toDouble / 1e12 * 10000.0)
      t -> (bySupp.size.toLong, hhi, if (hhi > 2500.0) 1 else 0)
    }
    val got = Relational.supplierHhi(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getInt(3))).toMap
    assert(got == expect, s"hhi diverges: $got vs $expect")
    // HHI in (0, 10000]; a monopoly type would be exactly 10000
    got.values.foreach { case (ns, hhi, _) =>
      assert(hhi > 0.0 && hhi <= 10000.0 + 1e-9)
      assert(hhi >= 10000.0 / ns - 1.0, "HHI below the 1/n lower bound")
    }
  }

  test("backlog aging replays driver-side; partitions the open orders") {
    val orders = Tables.orders(spark, sf0001)
      .select(col("o_orderstatus"),
        floor(unix_micros(col("o_orderdate")) / lit(86400000000L))
          .cast("long").as("d"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val mx = orders.map(_._2).max
    def bucket(age: Long) =
      if (age <= 30) "a_0_30" else if (age <= 90) "b_31_90"
      else if (age <= 365) "c_91_365" else "d_over_365"
    val open = orders.filter(o => o._1 == "O" || o._1 == "P")
    val expect = open.groupBy(o => (o._1, bucket(mx - o._2)))
      .map { case (k, g) =>
        k -> (g.length.toLong, g.map(_._3).sum / 100.0) }
    val got = Relational.backlogAging(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == expect, s"aging diverges: $got vs $expect")
    assert(got.values.map(_._1).sum == open.length.toLong,
      "buckets must partition the open orders")
    assert(got.keys.map(_._2).toSet.size >= 2, "one bucket only - vacuous")
  }
}
