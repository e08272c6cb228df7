package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** Orders-side scale proof for the item-item CF family (the
  * recommendation twin of [[DocumentsScaleSpec]]): generate a
  * deterministic synthetic (orders, lineitem) star at 1x and 10x the
  * sf0.1 customer count with co-purchase structure PLANTED by
  * construction — every even part 2i ships with its partner 2i+1 in
  * every non-probe basket, while PROBE customers (c % 97 == 0) buy the
  * even halves alone — and pin the properties that matter at 100 TB:
  *
  *   - partner affinity dominates background co-draws, so the capped
  *     neighbor lists keep every partner at rank 1 as the corpus grows;
  *   - basket completion recommends the missing partners to probe
  *     customers at 10x (no recall decay with scale);
  *   - output stays bounded at topK rows per customer (linear output).
  *
  * Wall-clock is deliberately not asserted (CI noise).
  */
class OrdersScaleSpec extends SparkSpec {

  /** Deterministic star: per customer one order of 6 part draws from a
    * 500-part per-community even pool (community = c % 10); non-probe
    * customers also receive each drawn part's odd partner. Per-row RNG
    * seeds from the customer id, so content is partitioning-independent.
    */
  private def generate(spark: SparkSession, customers: Int): String = {
    import spark.implicits._
    val dir = graft.streaming.OneShot.tempDir(s"graft-ordscale-$customers")
    val li = spark.range(customers.toLong).as[Long].flatMap { c =>
      val r = new java.util.Random(0xC0FFEE ^ (c * 0x9E3779B97F4A7CL))
      val probe = c % 97 == 0
      val pool = (c % 10) * 1000L
      (0 until 6).flatMap { _ =>
        val even = pool + r.nextInt(500) * 2L
        if (probe) Seq((c, even)) else Seq((c, even), (c, even + 1))
      }
    }
    li.toDF("c", "p")
      .select(col("c").as("l_orderkey"), col("p").as("l_partkey"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(customers.toLong)
      .select(col("id").as("o_orderkey"), col("id").as("o_custkey"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private def ownedEvens(spark: SparkSession, dir: String)
      : Map[Long, Set[Long]] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") % 97 === 0)
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (c, rows) => c -> rows.map(_._2).toSet }
  }

  private def partnerChecks(spark: SparkSession, dir: String)
      : (Long, Long, Long) = {
    val probes = ownedEvens(spark, dir)
    val recs = GraphOps.basketCompletion(spark, dir)
      .filter(col("custkey") % 97 === 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1)
    var partnerRows = 0L
    var totalRows = 0L
    var rankOneMisses = 0L
    recs.foreach { case (c, rows) =>
      val owned = probes.getOrElse(c, Set.empty)
      rows.foreach { case (_, rec, rk) =>
        totalRows += 1
        val isPartner = rec % 2 == 1 && owned(rec - 1)
        if (isPartner) partnerRows += 1
        else if (rk == 1) rankOneMisses += 1
      }
    }
    (partnerRows, totalRows, rankOneMisses)
  }

  private lazy val dir1x = generate(spark, 15000)    // ~sf0.1 customers
  private lazy val dir10x = generate(spark, 150000)  // 10x that

  test("basket completion at 1x: probe customers get their missing partners") {
    val (partners, total, rankOneMisses) = partnerChecks(spark, dir1x)
    assert(total > 0)
    assert(rankOneMisses == 0, s"a probe's top rec was not a partner")
    assert(partners * 10 >= total * 8,
      s"partner share decayed: $partners of $total")
  }

  test("basket completion at 10x: no recall decay, linear output, " +
      "capped neighbor lists") {
    val (partners, total, rankOneMisses) = partnerChecks(spark, dir10x)
    assert(total > 0)
    assert(rankOneMisses == 0, s"a probe's top rec was not a partner")
    assert(partners * 10 >= total * 8,
      s"partner share decayed at 10x: $partners of $total")
    // output linear: at most topK rows per customer
    val all = GraphOps.basketCompletion(spark, dir10x)
    val perCust = all.groupBy("custkey").count()
      .agg(max("count")).head().getLong(0)
    assert(perCust <= 5, s"per-customer output not bounded: $perCust")
    // the published index is bounded at 20 neighbors per item
    val nbrs = GraphOps.itemNeighborBroadcast(spark, dir10x).get.value
    assert(nbrs.nonEmpty)
    assert(nbrs.values.map(_.length).max <= 20)
    // every even part's strongest stored neighbor is its partner
    val sample = nbrs.iterator.filter(_._1 % 2 == 0).take(200)
    sample.foreach { case (p, lst) =>
      assert(lst.head._1 == p + 1,
        s"part $p strongest neighbor ${lst.head} is not its partner")
    }
  }
}
