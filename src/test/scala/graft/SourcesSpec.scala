package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet and NDJSON: CSV and
  * multi-format round-trips preserve row counts and values.
  */
class SourcesSpec extends SparkSpec {

  test("csv round-trip preserves the orders table") {
    val dir = graft.streaming.OneShot.tempDir("graft-csv")
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    orders.write.mode("overwrite").option("header", "true").csv(dir)
    val back = graft.sources.Ingest.readCsv(spark, dir, orders.schema)
    assert(back.count() == orders.count())
    assert(back.exceptAll(orders).count() == 0)
    assert(orders.exceptAll(back).count() == 0)
  }

  test("csv ingest drops malformed rows like the NDJSON path") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Paths.get(graft.streaming.OneShot.tempDir("graft-csv-bad"))
    Files.write(dir.resolve("rows.csv"),
      "id,v\n1,1.5\nnot-a-number,oops,extra\n3,2.5\n".getBytes)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    val got = graft.sources.Ingest.readCsv(spark, dir.toString, schema)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1.5), (3L, 2.5)))
  }

  test("json lines round-trip preserves values including arrays") {
    val dir = graft.streaming.OneShot.tempDir("graft-json")
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    emb.write.mode("overwrite").json(dir)
    val back = spark.read.schema(emb.schema).json(dir)
    assert(back.count() == emb.count())
    assert(back.exceptAll(emb).count() == 0)
  }

  test("orc round-trip preserves the customer table") {
    val dir = graft.streaming.OneShot.tempDir("graft-orc")
    val cust = Tables.customer(spark, sf0001)
    cust.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == cust.count())
    assert(back.exceptAll(cust).count() == 0)
  }

  test("upsert replaces matched rows wholesale and appends new keys") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val updates = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val merged = graft.sources.Ingest.upsert(target, updates, "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(merged == Set((1L, "a", 10.0), (2L, "B", 99.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
    val deleted = graft.sources.Ingest
      .deleteByKey(target, Seq(Tuple1(2L)).toDF("k"), "k")
      .collect().map(_.getLong(0)).toSet
    assert(deleted == Set(1L, 3L))
  }

  test("orc round-trip preserves the lineitem slice with pushdown intact") {
    val dir = graft.streaming.OneShot.tempDir("graft-orc")
    val li = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    graft.sources.Ingest.writeOrc(li, dir)
    val back = graft.sources.Ingest.readOrc(spark, dir)
    assert(back.count() == li.count())
    assert(back.exceptAll(li).count() == 0 && li.exceptAll(back).count() == 0)
    val filtered = back.filter(col("l_returnflag") === "R")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_returnflag"),
      s"orc filter not pushed:\n$plan")
  }

  test("merge changelog: per-key actions reconcile with the end-state showcases") {
    val log = graft.sources.Ingest.mergeChangelogShowcase(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(log.nonEmpty)
    // one action per key — the MERGE contract
    assert(log.map(_._1).distinct.length == log.length)
    val byAction = log.groupBy(_._2)
    // inserts: negated clone keys, no prior value
    assert(byAction("insert").forall(e => e._1 < 0 && e._3.isEmpty
      && e._4.nonEmpty))
    // updates: real every-500th keys, new = old*11 div 10 exactly
    assert(byAction("update").forall(e => e._1 % 500 == 0
      && e._4.get == e._3.get * 11 / 10))
    // deletes: the disjoint every-700th set, no new value
    assert(byAction("delete").forall(e => e._1 % 700 == 0
      && e._1 % 500 != 0 && e._4.isEmpty && e._3.nonEmpty))
    // counts reconcile with the upsert end-state row
    val up = graft.sources.Ingest.mergeUpsertShowcase(spark, sf0001).head()
    assert(byAction("update").length.toLong == up.getAs[Long]("n_updated"))
    assert(byAction("insert").length.toLong == up.getAs[Long]("n_inserted"))
  }

  test("merge changelog APPLIES: replaying the actions reproduces the composed end state") {
    import org.apache.spark.sql.functions._
    // the CDC contract: a consumer holding only the target and the
    // changelog must reach the same end state as running the MERGE
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val state = scala.collection.mutable.Map(
      Tables.orders(spark, sf0001)
        .select(col("o_orderkey"), cents.as("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)): _*)
    graft.sources.Ingest.mergeChangelogShowcase(spark, sf0001).collect()
      .foreach { r =>
        val (k, action) = (r.getLong(0), r.getString(1))
        action match {
          case "update" | "insert" => state(k) = r.getLong(3)
          case "delete" => state -= k
        }
      }
    // the composed end state: the same upsert batch applied, then the
    // same disjoint delete set removed
    val orders = Tables.orders(spark, sf0001)
    val updates = orders.filter(col("o_orderkey") % 500 === 0)
      .withColumn("o_totalprice",
        expr("CAST(round(o_totalprice * 100) AS BIGINT) * 11 div 10")
          / 100.0)
    val inserts = updates.withColumn("o_orderkey", -(col("o_orderkey") + 1))
    val dels = orders
      .filter(col("o_orderkey") % 700 === 0 && col("o_orderkey") % 500 =!= 0)
      .select(col("o_orderkey"))
    val expected = graft.sources.Ingest.deleteByKey(
        graft.sources.Ingest.upsert(orders, updates.unionByName(inserts),
          "o_orderkey"),
        dels, "o_orderkey")
      .select(col("o_orderkey"), cents.as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state.toMap == expected,
      s"changelog replay diverges: ${state.size} vs ${expected.size} keys")
  }

  test("upsert fails loudly on duplicate update keys (MERGE contract)") {
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    val dupes = Seq((2L, "B1"), (2L, "B2"), (3L, "c")).toDF("k", "name")
    val ex = intercept[Exception] {
      graft.sources.Ingest.upsert(target, dupes, "k").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("multiple update rows")),
      s"expected duplicate-key error, got: $ex")
  }

  test("global sort plans as a range-partitioned exchange") {
    val sorted = Tables.orders(spark, sf0001).orderBy(col("o_totalprice"))
    val plan = sorted.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      s"global sort must range-partition, got:\n$plan")
  }

  test("compaction rewrites many small files into few, same rows") {
    val dir = graft.streaming.OneShot.tempDir("graft-compact")
    val ev = Tables.events(spark, sf0001).select("event_id", "user_id", "value")
    ev.repartition(64).write.mode("overwrite").parquet(dir)
    def dataFiles = new java.io.File(dir).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles == 64)
    graft.sources.Ingest.compactParquet(spark, dir)
    assert(dataFiles < 8, s"still $dataFiles files after compaction")
    val back = spark.read.parquet(dir)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).count() == 0)
  }

  test("schema evolution: mergeSchema unions parquet schema versions") {
    import spark.implicits._
    val dir = graft.streaming.OneShot.tempDir("graft-evolve")
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/v1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(s"$dir/v2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/v1", s"$dir/v2")
    assert(merged.columns.sorted.sameElements(Array("id", "name", "score")))
    val r1 = merged.filter(col("id") === 1).head
    assert(r1.isNullAt(r1.fieldIndex("score")), "old rows null-fill new cols")
    assert(merged.filter(col("id") === 2).head.getDouble(2) == 9.5)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = graft.streaming.OneShot.tempDir("graft-part")
    graft.sources.Ingest.writePartitioned(
      Tables.events(spark, sf0001).select("event_id", "event_type", "value"),
      dir, Seq("event_type"))
    val one = spark.read.parquet(dir).filter(col("event_type") === "error")
    val scan = one.queryExecution.executedPlan.toString
    // partition filter must reach the scan (not a post-scan filter)
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning in:\n$scan")
    val expected = Tables.events(spark, sf0001)
      .filter(col("event_type") === "error").count()
    assert(one.count() == expected)
  }
}
