package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest parity with the reference's dataset module
  * (`/root/reference/src/dataset.rs:8-23`): lenient NDJSON scan with a
  * head-of-file limit, the serde field rename, and the deterministic
  * prefix train/query split.
  *
  * Scale notes: the JSON scan is Spark's vectorized multi-line-capable
  * reader — schema is supplied (never inferred, which would double-scan),
  * malformed rows are dropped at parse time (DROPMALFORMED), and only the
  * two declared columns are materialized. Prefix semantics (`limit`,
  * split) are row-order-dependent, so they are defined relative to an
  * explicit `row_id` assigned at ingest — at cluster scale an upstream
  * id column is the contract, exactly like the fixture's `vec_id`.
  */
object Ingest {

  /** The reference's on-disk schema (`/root/reference/src/point.rs:5-10`):
    * `body` + the literally-named `"text-embedding-ada-002"` float array.
    */
  val ndjsonSchema: StructType = StructType(Seq(
    StructField("body", StringType),
    StructField("text-embedding-ada-002", ArrayType(DoubleType))))

  /** S1 — `read_ndjson(filename, limit)` (`dataset.rs:8-17`): read at
    * most `limit` records, silently dropping malformed lines, renaming
    * the embedding field to `vector`. A `row_id` records file order
    * (single input file → one partition → stable order, SURVEY.md §7.6.5).
    */
  def readNdjson(spark: SparkSession, path: String, limit: Int): DataFrame =
    spark.read
      .schema(ndjsonSchema)
      .option("mode", "DROPMALFORMED")
      .json(path)
      .withColumnRenamed("text-embedding-ada-002", "vector")
      .filter(col("vector").isNotNull) // DROPMALFORMED keeps all-null rows for top-level-valid JSON of wrong shape
      .limit(limit)
      .coalesce(1)
      .withColumn("row_id", monotonically_increasing_id())

  /** S2 — `split_dataset(data, ratio)` (`dataset.rs:19-23`): deterministic
    * prefix split at `round(n * ratio)` (half-away-from-zero, matching
    * Rust `f32::round`). Returns (base, query).
    */
  def splitDataset(df: DataFrame, ratio: Double): (DataFrame, DataFrame) = {
    val n = df.count()
    val splitAt = math.round(ratio * n) // Scala round = half-up, = Rust half-away for positive
    (df.filter(col("row_id") < splitAt), df.filter(col("row_id") >= splitAt))
  }

  /** Render the embeddings fixture to NDJSON in the reference's on-disk
    * format (`/root/reference/src/point.rs:5-10`: `body` + the
    * literally-named `"text-embedding-ada-002"` array), with planted
    * defects the lenient reader must survive: a malformed-JSON line
    * after every 10th record and a valid-JSON-but-vectorless line after
    * every 25th (the `dataset.rs:12-15` drop cases). Bodies are
    * deterministic two-sentence strings keyed on (vec_id, label) so the
    * first-sentence projection is replayable relationally; floats are
    * serialized via `Double.toString` of the WIDENED value, so the JSON
    * parse recovers exactly `CAST(embedding AS DOUBLE)` — the oracle's
    * arithmetic on the parquet table matches bit-for-bit. Memoized per
    * dataset; at cluster scale this render is a plain export job and
    * the collect is the fixture-scale shortcut for it.
    */
  def ndjsonFixture(spark: SparkSession, dir: String): String =
    graft.IndexCache.getOrBuild(spark, "ndjson-fixture", dir) {
      val rows = graft.Tables.embeddings(spark, dir)
        .orderBy("vec_id").select("vec_id", "embedding", "label").collect()
      val sb = new StringBuilder
      rows.zipWithIndex.foreach { case (r, i) =>
        val id = r.getLong(0)
        val emb = r.getSeq[Float](1).map(_.toDouble.toString)
          .mkString("[", ",", "]")
        sb ++= s"""{"body": "Doc $id label ${r.getInt(2)}. Row $id of the embeddings fixture.", "text-embedding-ada-002": $emb}"""
        sb += '\n'
        if (i % 10 == 9) { sb ++= """{"body": 17 "broken json"""; sb += '\n' }
        if (i % 25 == 24) {
          sb ++= """{"body": "stray row without a vector", "text-embedding-ada-002": null}"""
          sb += '\n'
        }
      }
      val p = java.nio.file.Files.createTempFile("graft-ndjson", ".ndjson")
      p.toFile.deleteOnExit()
      java.nio.file.Files.write(p, sb.toString.getBytes("UTF-8"))
      p.toString
    }

  /** The reference's own `main()` pipeline as ONE declared query
    * (`/root/reference/src/main.rs:61-94`): lenient NDJSON ingest with
    * a head limit (S1, `dataset.rs:8-17`), deterministic prefix split
    * (S2), exact cosine top-k for one held-out query (J1/T1), and the
    * first-sentence projection of each hit's body (P1,
    * `main.rs:34-39`). The oracle replays every step relationally on
    * the embeddings parquet: file order == vec_id order by
    * construction of [[ndjsonFixture]] (planted defect lines are
    * dropped by the lenient read), so "first `limit` valid records" ==
    * `vec_id < limit`.
    * Output: (vec_id, dist, first_sentence), ascending by distance.
    */
  def ndjsonTopKPipeline(spark: SparkSession, dir: String,
      limit: Int = 300, k: Int = 10, queryIdx: Long = 29): DataFrame = {
    val df = readNdjson(spark, ndjsonFixture(spark, dir), limit)
    val n = df.count()
    val splitAt = math.round(0.95 * n)
    val qid = splitAt + (queryIdx % (n - splitAt))
    val base = df.filter(col("row_id") < splitAt)
    val q = broadcast(df.filter(col("row_id") === qid)
      .select(col("vector").as("qvec")))
    base.crossJoin(q)
      .select(col("row_id").as("vec_id"),
        graft.knn.ExactKnn.dist(col("vector"), col("qvec")).as("dist"),
        split(col("body"), "\\.").getItem(0).as("first_sentence"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** `insert_many` semantics (`/root/reference/src/index.rs:7-9`,
    * `exact_knn.rs:23-25`): bag-append of new rows to the base relation.
    */
  def insertMany(base: DataFrame, rows: DataFrame): DataFrame =
    base.unionByName(rows)

  /** Keyed upsert — MERGE INTO semantics over plain tables: an update
    * row replaces the whole same-key target row; new keys append. One
    * shuffle (full outer join on the key); at 100 TB with partitioned
    * tables the write side becomes dynamic partition overwrite of only
    * the touched partitions.
    *
    * Precondition: `updates` has at most one row per key (as SQL MERGE
    * requires — it errors on multiple matches; here duplicate update
    * keys would fan the target row out).
    */
  def upsert(target: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val cols = target.columns
    // a NULL merge key can never match (and would otherwise surface as an
    // all-null row from the outer join) — drop such update rows up front
    val u = updates.filter(col(key).isNotNull)
      // SQL MERGE errors when several update rows match one target row;
      // enforce the same contract lazily: count per key (same shuffle key
      // as the join, so AQE reuses the exchange) and raise at execution
      // time if any key is duplicated
      .withColumn("__key_count",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col(key))))
      .alias("u")
    val checkedUpdateKey = when(col("__key_count") > 1,
        raise_error(concat(lit(s"upsert: multiple update rows for $key="),
          col(s"u.$key").cast("string"))))
      .otherwise(col(s"u.$key"))
    target.alias("t")
      .join(u, col(s"t.$key") === col(s"u.$key"), "full_outer")
      .select(cols.map(c =>
        when(col(s"u.$key").isNotNull,
          if (c == key) checkedUpdateKey else col(s"u.$c"))
          .otherwise(col(s"t.$c")).as(c)): _*)
  }

  /** The declared MERGE showcase (`orders_merge_upsert`): apply a
    * deterministic update+insert batch to `orders` through [[upsert]]
    * — every 500th order re-prices to exactly `cents·11 div 10` with a
    * sentinel status, and a clone of each lands as a new key — then
    * summarize the END STATE (row count, updated/inserted counts,
    * exact total cents). The oracle reconstructs the merged relation
    * with a CASE + UNION, so a hash match proves updates replaced
    * whole rows, inserts appended, and every untouched row carried
    * through. One full-outer shuffle on the key — [[upsert]]'s plan.
    * Output: (n_rows, n_updated, n_inserted, total_cents).
    */
  def mergeUpsertShowcase(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
    val updates = orders.filter(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U!").as("o_orderstatus"),
        (expr("CAST(round(o_totalprice * 100) AS BIGINT) * 11 div 10")
          / 100.0).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    // clone keys must be collision-free at ANY scale factor: orderkeys
    // are non-negative at every SF, so -(k+1) is always strictly
    // negative and injective — it can never alias a real key OR another
    // clone (a fixed +1e9 offset collides once keys pass 1e9, ~sf170,
    // silently turning inserts into whole-row updates; plain -k
    // collides at k=0)
    val inserts = updates
      .withColumn("o_orderkey", -(col("o_orderkey") + 1))
      .withColumn("o_orderstatus", lit("I!"))
    upsert(orders, updates.unionByName(inserts), "o_orderkey")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_orderstatus") === "U!", 1L).otherwise(0L))
          .as("n_updated"),
        sum(when(col("o_orderstatus") === "I!", 1L).otherwise(0L))
          .as("n_inserted"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("total_cents"))
  }

  /** Keyed delete — the MERGE DELETE half: drop target rows whose key
    * appears in `deletes` (left-anti join, shuffle-on-key only).
    */
  def deleteByKey(target: DataFrame, deletes: DataFrame, key: String): DataFrame =
    target.join(deletes.select(col(key)), Seq(key), "left_anti")

  /** The declared MERGE DELETE showcase (`orders_merge_delete`,
    * [[mergeUpsertShowcase]]'s other half): drop every 500th order by
    * keyed anti-join and summarize the end state — row count, a
    * deleted-keys-still-present audit column (must be 0), and the
    * exact remaining total cents. Output: (n_rows, n_deleted_present,
    * total_cents).
    */
  def mergeDeleteShowcase(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
    val deletes = orders.filter(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey"))
    deleteByKey(orders, deletes, "o_orderkey")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_orderkey") % 500 === 0, 1L).otherwise(0L))
          .as("n_deleted_present"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("total_cents"))
  }

  /** CDC CHANGELOG of a MERGE — the other half of the lakehouse MERGE
    * contract ([[mergeUpsertShowcase]] proves the END STATE; real MERGE
    * implementations also emit a changelog consumed by downstream
    * incremental views): one row PER AFFECTED KEY with its action
    * (`insert` / `update` / `delete`) and the old/new value. Same
    * deterministic batch as the upsert showcase (every 500th order
    * re-priced to cents·11 div 10, a -(k+1)-keyed clone inserted) plus
    * a disjoint delete set (every 700th order not already updated —
    * SQL MERGE forbids one source row both updating and deleting).
    *
    * Plan: every join BROADCASTS a |batch|-bounded side into a
    * column-pruned target scan (Spark's BroadcastHashJoin cannot
    * broadcast the preserved side of an outer join, so the classify
    * runs as inner + anti, never full-outer): `update` rows are the
    * inner join of target×batch; `insert` rows are the batch
    * anti-joined against the (|batch|-bounded) matched keys; `delete`
    * rows are the target semi-joined with the delete keys. The
    * changelog is |batch|-bounded — what makes CDC cheap at 100 TB:
    * cost scales with the change set, never the table. Exactness: all
    * values are exact BIGINT cents.
    * Output: (o_orderkey, action, old_cents, new_cents).
    */
  def mergeChangelogShowcase(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val tgt = orders.select(col("o_orderkey").as("k"), cents.as("old_cents"))
    val up = orders.filter(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT) * 11 div 10")
          .as("new_cents"))
    val batch = up
      .unionByName(up.select((-(col("k") + 1)).as("k"), col("new_cents")))
    val updateLog = tgt.join(broadcast(batch), Seq("k"), "inner")
      .select(col("k").as("o_orderkey"), lit("update").as("action"),
        col("old_cents"), col("new_cents"))
    val insertLog = batch
      .join(broadcast(updateLog.select(col("o_orderkey").as("k"))),
        Seq("k"), "left_anti")
      .select(col("k").as("o_orderkey"), lit("insert").as("action"),
        lit(null).cast("long").as("old_cents"), col("new_cents"))
    val del = orders
      .filter(col("o_orderkey") % 700 === 0 && col("o_orderkey") % 500 =!= 0)
      .select(col("o_orderkey").as("k"))
    val deleteLog = tgt.join(broadcast(del), Seq("k"), "left_semi")
      .select(col("k").as("o_orderkey"), lit("delete").as("action"),
        col("old_cents"), lit(null).cast("long").as("new_cents"))
    updateLog.unionByName(insertLog).unionByName(deleteLog)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetBytes) files. The streaming file sink and
    * per-batch ingests leave many small files; compaction restores scan
    * efficiency (fewer tasks, bigger row groups). Returns the file count
    * written.
    */
  def compactParquet(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val df = spark.read.parquet(path)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = path.stripSuffix("/") + ".compact.tmp"
    df.repartition(files).write.mode("overwrite").parquet(tmp)
    swapInPlace(spark, path, tmp)
    files
  }

  /** Swap `tmp` into `path` keeping a live copy at every step (a real
    * lakehouse would commit via table metadata): move the original
    * ASIDE first, move the new dir into place, only then drop the
    * backup. A crash between the renames leaves the data in `.bak`; a
    * failed second rename restores the original.
    */
  def swapInPlace(spark: SparkSession, path: String, tmp: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val src = new org.apache.hadoop.fs.Path(tmp)
    val bak = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".bak")
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(bak)) fs.delete(bak, true) // stale backup from a crash
    if (fs.exists(dst) && !fs.rename(dst, bak))
      throw new java.io.IOException(
        s"swap: could not move $path aside (original untouched; new data is at $tmp)")
    if (!fs.rename(src, dst)) {
      if (fs.exists(bak)) fs.rename(bak, dst) // restore the original
      throw new java.io.IOException(
        s"swap: rename $tmp -> $path failed (original restored; new data is at $tmp)")
    }
    fs.delete(bak, true)
  }

  /** CSV scan under the same lenient-ingest contract as [[readNdjson]]:
    * supplied schema (no inference double-scan), malformed rows dropped
    * at parse time. Column pruning and (for non-string types) filter
    * skipping work as with any file source.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("mode", "DROPMALFORMED")
      .csv(path)

  /** Hive-style partitioned parquet write. At 100 TB this is the
    * first-line pruning lever: a filter on a partition column never
    * touches the other directories (PartitionFilters in the scan node,
    * zero I/O for pruned partitions — vs row-group stats, which still
    * read footers). Choose low-cardinality columns (date, category);
    * high-cardinality partitioning produces the small-file problem
    * [[compactParquet]] exists to fix.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed managed-table write: pre-shuffles rows into `buckets`
    * files by hash(bucketCols) AND records that layout in the catalog,
    * so later equi-joins / aggregations on the bucket key skip their
    * exchange entirely (two co-bucketed fact tables sort-merge join with
    * NO shuffle — at 100 TB the difference between a network-bound and a
    * local join). Requires a table name (bucket metadata lives in the
    * metastore, not the files).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** ORC round-trip: the second columnar format large pipelines meet
    * (same pushdown/pruning surface as parquet under Spark's vectorized
    * ORC reader).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  // ------------------------------------------------------------------
  // SCHEMA EVOLUTION — long-lived ingest paths never have one schema.
  // A column added in generation 2 must not force a rewrite of the
  // petabytes generation 1 already landed: Spark's mergeSchema read
  // unions the per-file footers at PLANNING time (footer metadata only
  // — no data scan, no rewrite) and back-fills the missing column with
  // NULLs row-free at scan time. The staged fixture below writes two
  // real generations into ONE directory; the declared row reads them
  // through one evolved schema and aggregates per priority, with the
  // pre-evolution rows surfacing under a sentinel label. The DuckDB
  // oracle reconstructs the same union from the orders table — a hash
  // match proves the evolved read neither lost rows nor misaligned
  // columns across generations.
  // ------------------------------------------------------------------

  /** Stage the two-generation orders export (memoized; charged to
    * `bench_build_cdc_stage`'s sibling `bench_build_evolved`):
    * generation 1 = even orderkeys as (o_orderkey, cents) — written
    * BEFORE the schema grew; generation 2 = odd orderkeys as
    * (o_orderkey, cents, o_orderpriority). Same directory, two file
    * schemas, exactly what a long-lived landing zone looks like.
    */
  private[graft] def evolvedOrdersDir(spark: SparkSession,
      dir: String): String =
    graft.IndexCache.getOrBuild(spark, "orders-evolved", dir) {
      val out = graft.streaming.OneShot.tempDir("graft-evolved")
      val o = graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderpriority"))
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .drop("o_orderpriority")
        .write.mode("append").parquet(out)
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .write.mode("append").parquet(out)
      out
    }

  /** The declared schema-evolution row (`ingest_schema_evolution`):
    * one mergeSchema read across both generations, rolled up per
    * priority; generation-1 rows (the column did not exist yet) land
    * under the '(pre-evolution)' sentinel. Output:
    * (o_orderpriority, n_orders, total_cents).
    */
  def schemaEvolutionRollup(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(evolvedOrdersDir(spark, dir))
      .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)"))
        .as("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
}
