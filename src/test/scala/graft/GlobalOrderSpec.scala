package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.GraftOps

/** The range-partitioned global-order primitive
  * (`GraftOps.globalOrder`): output-identical to the single-partition
  * window forms it replaces, while the data stays spread across a real
  * multi-partition range layout (the r6 verdict's top scale item —
  * an unpartitioned `Window.orderBy` funnels the whole relation
  * through one reducer). Each case keeps the name of the function it
  * first pinned: "globalRank" is the rank (+ count) call,
  * "globalPrefixSum(s)" the one (several) running-sum call, and
  * "globalRankAndPrefix" the rank + sum + count + total call.
  */
class GlobalOrderSpec extends SparkSpec {

  private def synth = {
    import spark.implicits._
    // duplicate sort keys on purpose: the total order comes from the
    // (key, id) tie-break, exactly like curriculum's (q6 desc, doc_id)
    (0L until 997L).map(i => (i, (i * 37L) % 100L, (i % 13L) + 1L))
      .toDF("id", "key", "v")
      .repartition(7)
  }

  test("globalRank equals row_number over the same total order") {
    val got = GraftOps.globalOrder(synth,
        Seq("key" -> false, "id" -> true), rank = Some("rk"), count = Some("n"))
    assert(got.rdd.getNumPartitions > 1,
      "rank output collapsed to a single partition")
    val want = synth.withColumn("rk", row_number().over(
        Window.orderBy(col("key").desc, col("id").asc)).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    val g = got.select("id", "key", "v", "rk", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    val w = want.select("id", "key", "v", "rk", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(g.sameElements(w))
  }

  test("globalPrefixSum equals the exclusive window prefix sum") {
    val got = GraftOps.globalOrder(synth, Seq("id" -> true),
      sums = Seq("v" -> "ps"), exclusive = true)
    assert(got.rdd.getNumPartitions > 1,
      "prefix-sum output collapsed to a single partition")
    val want = synth.withColumn("ps", coalesce(sum(col("v")).over(
      Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val g = got.select("id", "ps").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val w = want.select("id", "ps").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(g.sameElements(w))
  }

  test("globalPrefixSums stamps several columns in one pass, window-equal") {
    val got = GraftOps.globalOrder(synth, Seq("id" -> true),
      sums = Seq("v" -> "pv", "key" -> "pk"))
    assert(got.rdd.getNumPartitions > 1)
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = synth.withColumn("pv", sum(col("v")).over(w))
      .withColumn("pk", sum(col("key")).over(w))
    def slurp(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "pv", "pk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(slurp(got).sameElements(slurp(want)))
  }

  test("globalRankAndPrefix equals rank + inclusive cum + totals") {
    val got = GraftOps.globalOrder(synth,
      Seq("key" -> false, "id" -> true), rank = Some("rk"),
      sums = Seq("v" -> "cum"), count = Some("n"), totals = Seq("tot"))
    val ord = Window.orderBy(col("key").desc, col("id").asc)
    val want = synth
      .withColumn("rk", row_number().over(ord).cast("long"))
      .withColumn("cum", sum(col("v")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("tot", sum(col("v")).over(Window.partitionBy()))
    val cols = Seq("id", "rk", "cum", "n", "tot")
    def slurp(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.head, cols.tail: _*).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).sortBy(_._1)
    assert(slurp(got).sameElements(slurp(want)))
  }

  test("ntileFromRank matches SQL ntile bit-for-bit on non-divisible n") {
    // 997 rows, 4 buckets: 997 = 4*249 + 1, so bucket 1 carries 250
    // and the rest 249 — the larger-buckets-first contract
    val ranked = GraftOps.globalOrder(synth, Seq("id" -> true),
      rank = Some("rk"), count = Some("n"))
      .withColumn("q", GraftOps.ntileFromRank(col("rk"), col("n"), 4))
    val want = synth.withColumn("q",
      ntile(4).over(Window.orderBy(col("id"))))
    val g = ranked.select("id", "q").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    val w = want.select("id", "q").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(g.sameElements(w))
  }

  test("globalRank at a 5M-row tier: exact ranks, no single-partition stage") {
    import spark.implicits._
    // ~10,000x the synthetic above — the regime where the window form
    // this primitive replaced would funnel everything through one
    // reducer. Key is a bijective mix of the id, so the exact rank of
    // any row is computable in closed form for spot checks.
    val n = 5000000L
    val df = spark.range(n).select(col("id"),
      pmod(col("id") * 2654435761L, lit(n)).as("key"))
    val ranked = GraftOps.globalOrder(df, Seq("key" -> true, "id" -> true),
      rank = Some("rk"), count = Some("cnt"))
    assert(ranked.rdd.getNumPartitions > 1)
    // multiplication by an odd constant mod n=5e6? not bijective in
    // general — rank must simply equal 1 + (#rows with smaller key),
    // checked on 20 sampled rows against a distributed count
    val sample = ranked.filter(pmod(col("id"), lit(250000L)) === 7L)
      .select("id", "key", "rk", "cnt").collect()
    assert(sample.length == 20)
    sample.foreach { r =>
      assert(r.getLong(3) == n)
      val below = df.filter(col("key") < r.getLong(1)).count()
      val ties = df.filter(col("key") === r.getLong(1) &&
        col("id") < r.getLong(0)).count()
      assert(r.getLong(2) == below + ties + 1L,
        s"id=${r.getLong(0)} rank ${r.getLong(2)} != ${below + ties + 1}")
    }
    // the rank column is a permutation: min/max land exactly
    val mm = ranked.agg(min(col("rk")), max(col("rk")),
      countDistinct(col("rk"))).head()
    assert(mm.getLong(0) == 1L && mm.getLong(1) == n && mm.getLong(2) == n)
  }

  test("globalPrefixSum at the 5M-row tier: closed-form sums, multi-partition") {
    // same regime as the 5M rank tier, for the variant that carries the
    // packing re-plan: v = id % 7 in id order has an exact closed-form
    // exclusive prefix sum (full cycles of 0..6 sum to 21):
    //   ps(id) = (id div 7)·21 + r·(r−1)/2,  r = id mod 7
    val n = 5000000L
    val df = spark.range(n).select(col("id"), (col("id") % 7L).as("v"))
    val ps = GraftOps.globalOrder(df, Seq("id" -> true),
      sums = Seq("v" -> "ps"), exclusive = true)
    assert(ps.rdd.getNumPartitions > 1,
      "prefix-sum output collapsed to a single partition")
    val sample = ps.filter(pmod(col("id"), lit(250000L)) === 11L)
      .select("id", "ps").collect()
    assert(sample.length == 20)
    sample.foreach { r =>
      val id = r.getLong(0); val rr = id % 7L
      val want = (id / 7L) * 21L + rr * (rr - 1L) / 2L
      assert(r.getLong(1) == want, s"id=$id ps ${r.getLong(1)} != $want")
    }
    // the global total survives the partition offsets exactly
    val tot = ps.agg(max(col("ps") + col("v"))).head().getLong(0)
    val rn = n % 7L
    assert(tot == (n / 7L) * 21L + rn * (rn - 1L) / 2L)
  }

  test("globalRankAndPrefix at the 5M-row tier: fused rank+cum spot checks") {
    // the fused variant (one layout, one stamping pass) carries the
    // gini/pareto/rfm and end-to-end packing re-plans; probe it in the
    // same non-trivial (key, id) order as the 5M rank tier, checking
    // each sampled row's rank AND inclusive cum against independent
    // distributed recomputation.
    val n = 5000000L
    val df = spark.range(n).select(col("id"),
      pmod(col("id") * 2654435761L, lit(n)).as("key"),
      (col("id") % 7L + 1L).as("v"))
    val got = GraftOps.globalOrder(df,
      Seq("key" -> true, "id" -> true), rank = Some("rk"),
      sums = Seq("v" -> "cum"), count = Some("cnt"), totals = Seq("tot"))
    assert(got.rdd.getNumPartitions > 1)
    val totalV = df.agg(sum(col("v"))).head().getLong(0)
    val sample = got.filter(pmod(col("id"), lit(500000L)) === 13L)
      .select("id", "key", "v", "rk", "cum", "cnt", "tot").collect()
    assert(sample.length == 10)
    sample.foreach { r =>
      val (id, key) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(5) == n); assert(r.getLong(6) == totalV)
      val below = df.filter(col("key") < key).count()
      val ties = df.filter(col("key") === key && col("id") < id).count()
      assert(r.getLong(3) == below + ties + 1L,
        s"id=$id rank ${r.getLong(3)} != ${below + ties + 1}")
      val cumBelow = df.filter(col("key") < key)
        .agg(coalesce(sum(col("v")), lit(0L))).head().getLong(0)
      val cumTies = df.filter(col("key") === key && col("id") <= id)
        .agg(coalesce(sum(col("v")), lit(0L))).head().getLong(0)
      assert(r.getLong(4) == cumBelow + cumTies,
        s"id=$id cum ${r.getLong(4)} != ${cumBelow + cumTies}")
    }
  }

  test("globalRank spreads massive key ties across partitions (skew safety)") {
    import spark.implicits._
    // every row shares ONE sort-key value — the skew case that kills
    // naive range partitioning. The primitive requires a TOTAL order
    // (tie-breaking id), so the range boundaries cut inside the tie
    // run and the layout stays balanced.
    val n = 100000L
    val df = spark.range(n).select(col("id"), lit(7L).as("key"))
    val ranked = GraftOps.globalOrder(df,
      Seq("key" -> true, "id" -> true), rank = Some("rk"))
    val sizes = ranked.rdd
      .mapPartitions(it => Iterator(it.length)).collect().filter(_ > 0)
    assert(sizes.length > 1, "tie run collapsed to one partition")
    assert(sizes.max < n / 2,
      s"skewed layout: max partition ${sizes.max} of $n")
    // and the ranks are still the exact id order
    val mm = ranked.agg(min(col("rk")), max(col("rk")),
      sum(when(col("rk") === col("id") + 1L, 1L).otherwise(0L))).head()
    assert(mm.getLong(0) == 1L && mm.getLong(1) == n && mm.getLong(2) == n)
  }

  test("curriculum and packSequences run window-free, multi-partition") {
    val cur = graft.operators.Pipeline.curriculum(spark, sf0001)
    val pack = graft.operators.Pipeline.packSequences(spark, sf0001)
    val pareto = graft.operators.Relational.revenuePareto(spark, sf0001)
    val gini = graft.operators.Stats.giniCoefficient(spark, sf0001)
    for ((name, df) <- Seq("curriculum" -> cur, "packSequences" -> pack,
        "revenuePareto" -> pareto, "giniCoefficient" -> gini)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name still plans a window operator:\n$plan")
      // gini folds its ranks into one scalar row by design
      assert(name == "giniCoefficient" || df.rdd.getNumPartitions > 1,
        s"$name output collapsed to a single partition")
    }
  }

  test("globalOrder stamps a rank, two sums, their totals and the count " +
      "in one call, window-equal") {
    val got = GraftOps.globalOrder(synth,
      Seq("key" -> false, "id" -> true), rank = Some("rk"),
      sums = Seq("v" -> "pv", "key" -> "pk"), exclusive = true,
      count = Some("n"), totals = Seq("tv", "tk"))
    assert(got.rdd.getNumPartitions > 1)
    val ord = Window.orderBy(col("key").desc, col("id").asc)
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    val want = synth
      .withColumn("rk", row_number().over(ord).cast("long"))
      .withColumn("pv", coalesce(sum(col("v")).over(before), lit(0L)))
      .withColumn("pk", coalesce(sum(col("key")).over(before), lit(0L)))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("tv", sum(col("v")).over(all))
      .withColumn("tk", sum(col("key")).over(all))
    val cols = Seq("id", "key", "v", "rk", "pv", "pk", "n", "tv", "tk")
    // the appended columns come out in the documented order
    assert(got.columns.toSeq == cols, got.columns.mkString(", "))
    def slurp(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.head, cols.tail: _*).collect()
        .map(r => cols.indices.map(r.getLong)).sortBy(_.head)
    assert(slurp(got).sameElements(slurp(want)))
  }
}
