package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.Ingest

/** Round-trips the reference's NDJSON input format
  * (`/root/reference/src/dataset.rs`, `src/point.rs`) through the Spark
  * ingest: renders the embeddings fixture to NDJSON with injected
  * malformed lines, then checks lenient parse + limit + prefix split.
  */
class IngestSpec extends SparkSpec {

  private lazy val ndjsonPath: String = {
    val rows = Tables.embeddings(spark, sf0001)
      .orderBy("vec_id").limit(100)
      .select(col("vec_id"), col("embedding")).collect()
    val lines = rows.zipWithIndex.flatMap { case (r, i) =>
      val emb = r.getSeq[Float](1).map(f => f"$f%.6f").mkString("[", ",", "]")
      val good =
        s"""{"body": "Doc ${r.getLong(0)}. Second sentence.", "text-embedding-ada-002": $emb}"""
      // inject a malformed line after every 10th record — must be dropped
      if (i % 10 == 9) Seq(good, """{"body": 17 "broken json""") else Seq(good)
    }
    val p = java.nio.file.Paths.get(
      graft.streaming.OneShot.tempDir("graft-ingest"), "fixture.ndjson")
    Files.write(p, lines.mkString("\n").getBytes)
    p.toString
  }

  test("S1: malformed lines dropped, field renamed, limit honored") {
    val df = Ingest.readNdjson(spark, ndjsonPath, limit = 1000)
    assert(df.count() == 100) // 10 malformed lines dropped
    assert(df.columns.toSet == Set("body", "vector", "row_id"))
    assert(df.filter(col("vector").isNull).count() == 0)
    val limited = Ingest.readNdjson(spark, ndjsonPath, limit = 25)
    assert(limited.count() == 25)
  }

  test("S1: row_id records file order") {
    val df = Ingest.readNdjson(spark, ndjsonPath, limit = 1000)
    val firstBodies = df.orderBy("row_id").limit(3)
      .select("body").collect().map(_.getString(0))
    assert(firstBodies.sameElements(Array(
      "Doc 0. Second sentence.", "Doc 1. Second sentence.", "Doc 2. Second sentence.")))
  }

  test("S2: deterministic prefix split with Rust round semantics") {
    val df = Ingest.readNdjson(spark, ndjsonPath, limit = 1000)
    val (base, query) = Ingest.splitDataset(df, 0.95)
    assert(base.count() == 95)
    assert(query.count() == 5)
    // round-half-up boundary: 10 rows at 0.95 -> round(9.5) = 10, empty query
    val (b2, q2) = Ingest.splitDataset(df.filter(col("row_id") < 10), 0.95)
    assert(b2.count() == 10 && q2.count() == 0)
  }

  test("insert_many is bag-append (union)") {
    val df = Ingest.readNdjson(spark, ndjsonPath, limit = 30)
    val (base, query) = Ingest.splitDataset(df, 0.5)
    val appended = Ingest.insertMany(base, query)
    assert(appended.count() == 30)
    // duplicates preserved (bag semantics)
    assert(Ingest.insertMany(base, base).count() == 2 * base.count())
  }

  test("declared ndjson pipeline: ingest -> split -> top-k -> first sentence") {
    val rows = Ingest.ndjsonTopKPipeline(spark, sf0001).collect()
    assert(rows.length == 10)
    // distances ascend; the projected first sentence replays Doc/label
    val dists = rows.map(_.getDouble(1))
    assert(dists.sameElements(dists.sorted))
    rows.foreach { r =>
      assert(r.getString(2).matches(s"Doc ${r.getLong(0)} label \\d"),
        s"unexpected first sentence: ${r.getString(2)}")
    }
    // every hit is a base-side row (the held-out query never matches itself)
    assert(rows.forall(_.getLong(0) < 285))
  }

  test("row_id preserves file order even when the scan splits the file") {
    // line-splittable JSON reads as multiple partitions once the file
    // exceeds maxPartitionBytes; coalesce(1) concatenates partitions in
    // index order = file-offset order, so row_id must still equal file
    // position — the invariant ingest_ndjson_topk's oracle relies on
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      val df = Ingest.readNdjson(spark, ndjsonPath, limit = 1000)
      assert(df.rdd.getNumPartitions == 1) // after coalesce
      val bodies = df.orderBy("row_id").select("body").collect()
        .map(_.getString(0))
      assert(bodies.length == 100)
      bodies.zipWithIndex.foreach { case (b, i) =>
        assert(b == s"Doc $i. Second sentence.", s"row $i got $b")
      }
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("first-sentence projection (P1) over ingested bodies") {
    val df = Ingest.readNdjson(spark, ndjsonPath, limit = 5)
      .withColumn("first_sentence", split(col("body"), "\\.").getItem(0))
    val got = df.orderBy("row_id").select("first_sentence")
      .collect().map(_.getString(0))
    assert(got.sameElements(Array("Doc 0", "Doc 1", "Doc 2", "Doc 3", "Doc 4")))
  }
}
