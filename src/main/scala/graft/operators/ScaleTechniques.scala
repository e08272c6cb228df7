package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ExactNum._

/** Skew-handling techniques as first-class operators.
  *
  * Salting: a hot grouping key (here event_type — 5 values over every
  * row) concentrates each group on one reducer. The salted form spreads
  * each group over `salts` sub-keys in a first shuffle, then combines
  * the per-salt partials in a second, tiny shuffle (salts x groups
  * rows). Identical results to the direct aggregation — integer-cent
  * sums are order-independent — which the DuckDB oracle checks with a
  * plain GROUP BY.
  *
  * (For joins, the analogous trick replicates the small side per salt;
  * AQE's skew-join split automates this for sort-merge joins at runtime.)
  */
object ScaleTechniques {

  /** Two-stage salted aggregation per event_type. Output:
    * (event_type, n, sum_value) — same as the unsalted groupBy.
    */
  def saltedEventAgg(spark: SparkSession, dir: String, salts: Int = 16): DataFrame =
    Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(salts)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(cents(col("value"))).as("pc"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), (sum(col("pc")) / 100.0).as("sum_value"))

  /** Runtime-filter join pruning — the Bloom semi-join: the dim side
    * (a selective orders slice) builds a [[graft.functions.LongBloom]]
    * over its join keys, the filter broadcasts to the fact scan, and
    * non-joining lineitem rows drop MAP-SIDE before any join exchange.
    * The exact join then removes the Bloom's false positives, so the
    * result is bit-identical to the plain join (the DuckDB oracle);
    * only the work changes.
    *
    * Why it matters at 100 TB: when the dim side is too big to
    * broadcast, the fact side of a shuffle join carries EVERY row to
    * the exchange — a ~48-bits-per-key filter prunes the 90%+ that
    * cannot match for the cost of a broadcast variable, which is the
    * optimization Spark's own `runtime.bloomFilter` AQE rule makes
    * adaptive. Here it is explicit, deterministic, and spec-pinned
    * (ScaleTechniquesSpec: fact survivors < 15% of the scan, result
    * equality). Output: (day, n_lines, revenue) over the joined slice.
    */
  def bloomPrunedJoin(spark: SparkSession, dir: String,
      fpp: Double = 1e-6): DataFrame = {
    import spark.implicits._
    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1998-06-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"))
    bloomPrunedFact(spark, dir, dim, fpp)
      .join(dim, Seq("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("p100")) / 100.0).as("revenue"))
  }

  /** The pruned fact scan of [[bloomPrunedJoin]], exposed so the spec
    * can measure the survivor count: lineitem keys probe the broadcast
    * Bloom inside a typed map-side filter — zero shuffle, zero dim
    * rows moved.
    */
  private[graft] def bloomPrunedFact(spark: SparkSession, dir: String,
      dim: DataFrame, fpp: Double = 1e-6): DataFrame = {
    import spark.implicits._
    val keys = dim.select(col("o_orderkey").cast("long")).as[Long]
    val bloom = graft.functions.LongBloom.build(
      keys, math.max(keys.count(), 1L), fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").cast("long").as("o_orderkey"),
        cents(col("l_extendedprice")).as("p100"))
      .as[(Long, Long)]
      .filter(t => bc.value.mightContain(t._1))
      .toDF("o_orderkey", "p100")
  }

  /** Co-bucketed orders + lineitem managed tables (16 buckets on the
    * join key, bucket-sorted), written once per dataset — the physical
    * layout that deletes the join shuffle: both sides' files are
    * already hash-partitioned AND sorted by key, so the sort-merge
    * join reads co-located buckets with NO exchange and NO sort on
    * either side. At 100 TB this turns the nightly fact-to-fact join
    * from a network-bound shuffle of both tables into a local merge —
    * the single biggest plan-shape lever bucketing buys.
    * Returns (ordersTable, lineitemTable) catalog names.
    */
  private[graft] def bucketedTables(spark: SparkSession,
      dir: String): (String, String) =
    graft.IndexCache.getOrBuild(spark, "buckets", dir) {
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val (ot, lt) = (s"graft_orders_b_$tag", s"graft_lineitem_b_$tag")
      // repartition by the bucket key FIRST (same murmur3 hash as the
      // bucket spec) so every bucket lands in exactly one file — the
      // single-file-per-bucket condition under which the scan's output
      // is already sorted and the SMJ drops its Sort nodes too
      graft.sources.Ingest.writeBucketed(
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .repartition(16, col("o_orderkey")),
        ot, Seq("o_orderkey"), 16)
      graft.sources.Ingest.writeBucketed(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"))
          .repartition(16, col("l_orderkey")),
        lt, Seq("l_orderkey"), 16)
      (ot, lt)
    }

  /** The declared co-bucketed join: lineitem ⋈ orders on the bucket
    * key, rolled up per order priority. The join side of the plan runs
    * exchange-free off the [[bucketedTables]] layout (pinned by
    * ScaleTechniquesSpec with broadcast disabled — only the final
    * |priorities|-group rollup shuffles, and that exchange carries
    * five partial rows per task). The DuckDB oracle replays the plain
    * join — bucketing is pure layout, the result is identical.
    * Output: (o_orderpriority, n_lines, revenue).
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = bucketedTables(spark, dir)
    spark.table(lt)
      .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(cents(col("l_extendedprice"))) / 100.0).as("revenue"))
  }

  /** Hive-partitioned orders artifact (directory per order month),
    * written once per dataset and memoized — the table LAYOUT dynamic
    * partition pruning needs. The month directories are what a
    * partition-column filter skips without any I/O; at 100 TB the
    * date-partitioned fact table is the default physical design this
    * models.
    */
  private[graft] def partitionedOrdersPath(spark: SparkSession, dir: String): String =
    graft.IndexCache.getOrBuild(spark, "dpp_orders", dir) {
      val p = graft.streaming.OneShot.tempDir("graft_part_orders")
      Tables.orders(spark, dir)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("o_month").parquet(p)
      p
    }

  /** A tiny calendar dimension: one row per month 1992-01..1998-12 with
    * its quarter label — the date-dim side of the TPC-DS-style pruning
    * join. Built from `spark.range`, so its filter is a genuine runtime
    * predicate Catalyst cannot fold into a static partition filter.
    */
  private[graft] def monthDim(spark: SparkSession): DataFrame = {
    val m = add_months(lit("1992-01-01").cast("date"), col("id").cast("int"))
    spark.range(0, 84)
      .select(date_format(m, "yyyy-MM").as("o_month"),
        concat(year(m), lit("-Q"), quarter(m)).as("qtr"))
  }

  /** Dynamic partition pruning, demonstrated end to end: the
    * month-partitioned orders fact joins the broadcast calendar dim
    * filtered to one quarter, and Spark's PartitionPruning rule reuses
    * the broadcast result as a runtime IN-filter on the fact scan's
    * PARTITION column — only the 3 matching month directories are read,
    * the other 81 are never opened. This is the mechanism that makes a
    * "WHERE dim.attribute = …" query on a 100 TB date-partitioned fact
    * table cost 3 partitions of I/O instead of 84: the partition filter
    * is not known until the dim side evaluates, so static pruning
    * cannot help and row-group stats still pay footer reads.
    *
    * ScaleTechniquesSpec pins the plan (`dynamicpruningexpression` in
    * the scan's PartitionFilters), the pruned I/O (files read < files
    * on disk), and result equality with the unpartitioned direct
    * computation. The DuckDB oracle filters the same quarter directly.
    * Output: (o_month, n_orders, revenue).
    */
  def dppPrunedJoin(spark: SparkSession, dir: String,
      qtr: String = "1996-Q1"): DataFrame = {
    val facts = layoutReader(spark, s"dpp_orders:$dir",
      partitionedOrdersPath(spark, dir))
    val dim = monthDim(spark).filter(col("qtr") === qtr)
    facts.join(broadcast(dim), Seq("o_month"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(cents(col("o_totalprice"))) / 100.0).as("revenue"))
  }

  /** Morton (Z-order) value of two non-negative integer columns: the
    * low `bits` bits of each, interleaved (x in even positions, y in
    * odd). A pure Column fold — 2×`bits` shift/mask/or terms, all inside
    * whole-stage codegen; no UDF.
    */
  def zorderValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(x.cast("long").bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(y.cast("long").bitwiseAND(lit(1L << i)), i + 1))
    }

  /** Multi-dimensional clustering: write `df` range-partitioned AND
    * sorted by the Morton value of (xCol, yCol), so every output file
    * covers a small 2-D tile. Parquet min/max stats on BOTH columns
    * then prune a 2-D box predicate to the few overlapping tiles —
    * whereas a 1-D sort gives selectivity on its leading column only.
    * At 100 TB this is the table-layout lever for workloads that filter
    * on two independent dimensions (user × time, key × date): no index
    * structure, just row order; any engine reading the files benefits.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      files: Int = 16, bits: Int = 16): Unit = {
    val z = zorderValue(col(xCol), col(yCol), bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Zone-map statistics of the events table under Z-order clustering —
    * the declared-query face of [[zorderValue]]/[[writeZOrdered]]: every
    * row maps to the Morton interleave of (user_id, day) low bits, rows
    * group into `1 << (2*bits - shift)` Z-tiles, and each tile reports
    * its count and per-dimension envelope. These envelopes ARE the
    * parquet min/max stats a reader prunes on: a (user × date-range) box
    * predicate touches only the tiles whose envelope intersects it,
    * which is the entire value of multi-dimensional clustering at
    * 100 TB. The interleave is a pure shift/mask Column fold (codegen,
    * no UDF) and all-integer, so the DuckDB oracle replays it bit-exactly
    * from a generated expression.
    *
    * Scale shape: map-only z computation + one partial-aggregated
    * shuffle on the tile id; output is tile-count-bounded (≤ 64 here).
    */
  def zorderBucketStats(spark: SparkSession, dir: String,
      bits: Int = 8, shift: Int = 10): DataFrame = {
    val mask = (1L << bits) - 1
    val x = col("user_id").bitwiseAND(lit(mask))
    val d = floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
      .bitwiseAND(lit(mask))
    Tables.events(spark, dir)
      .select(col("user_id"), x.as("x"), d.as("d"))
      .withColumn("bucket", shiftright(zorderValue(col("x"), col("d"), bits), shift))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("xmin"), max(col("x")).as("xmax"),
        min(col("d")).as("dmin"), max(col("d")).as("dmax"))
  }

  /** The DuckDB replay of [[zorderBucketStats]]'s interleave, generated
    * term-by-term so both engines evaluate the identical shift/mask/or
    * chain (the oracle-parity rule for engine-hash surfaces, applied to
    * bit arithmetic).
    */
  def zorderOracleSql(bits: Int = 8, shift: Int = 10): String = {
    val mask = (1L << bits) - 1
    val terms = (0 until bits).flatMap(i => Seq(
      s"((x & ${1L << i}) << $i)",
      s"((d & ${1L << i}) << ${i + 1})"))
    s"""
      WITH e AS (SELECT (user_id & $mask) AS x,
                        ((epoch_us(ts) // 86400000000) & $mask) AS d
                 FROM events),
      z AS (SELECT x, d, (${terms.mkString(" | ")}) >> $shift AS bucket FROM e)
      SELECT bucket, count(*) AS n,
             min(x) AS xmin, max(x) AS xmax,
             min(d) AS dmin, max(d) AS dmax
      FROM z GROUP BY bucket"""
  }

  /** Events written hive-partitioned by Z-TILE — the
    * [[zorderBucketStats]] bucket shape (morton(user_id & mask,
    * epday & mask) >> shift) turned into a PHYSICAL partition key, so
    * the tile envelopes become partitions a runtime filter can prune
    * instead of just stats a reader consults. shift=4 gives 4-wide
    * tiles on both axes — sized so even the smallest fixture (15
    * users × 30 days) spans dozens of populated tiles; only populated
    * tiles materialize as directories. Memoized per dataset; charged
    * to `bench_build_zorder_part` so the declared DPP row measures the
    * pruned join, not the layout write.
    */
  private[graft] def zorderPartitionedEventsPath(spark: SparkSession,
      dir: String, bits: Int = 8, shift: Int = 4): String =
    graft.IndexCache.getOrBuild(spark, "zorder-part", dir, bits, shift) {
      val p = graft.streaming.OneShot.tempDir("graft_zpart_events")
      val mask = (1L << bits) - 1
      val x = col("user_id").bitwiseAND(lit(mask))
      val d = floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
        .bitwiseAND(lit(mask))
      Tables.events(spark, dir)
        .select(x.as("x"), d.as("d"), cents(col("value")).as("cents"))
        .withColumn("ztile",
          shiftright(zorderValue(col("x"), col("d"), bits), shift)
            .cast("int"))
        // co-locate each tile before the hive write: one file per tile
        // dir instead of (tasks x tiles) shards — at 10x the unshuffled
        // write fans out to ~16k files, an fd/small-file hazard. The
        // partition count is pinned (keyless-AQE exempt): with
        // `repartition(col)` AQE coalesces the tiny shuffle to ONE
        // partition and a single task pays every tile's file-create
        // serially (measured 9.1 s for ~550 tiles); pinning to the
        // executor width spreads the creates, still one file per tile
        .repartition(spark.sparkContext.defaultParallelism, col("ztile"))
        .write.mode("overwrite").partitionBy("ztile").parquet(p)
      p
    }

  /** DYNAMIC PARTITION PRUNING over the Z-ordered layout — the declared
    * consumer completing the interleave story (r10 verdict optional
    * ask): the fact side is [[zorderPartitionedEventsPath]] (events
    * partitioned by z-tile), the dim side is the tile DIRECTORY — each
    * tile id DEINTERLEAVED back into its exact (x, y) envelope with the
    * same shift/mask folds as [[zorderValue]] (a tile's Morton prefix
    * fixes the high bits of both axes; the `shift` free bits span a
    * 2^⌈shift/2⌉-wide rectangle) — filtered to the tiles overlapping a
    * 2-D box. Joining fact to that filtered dim on the PARTITION column
    * makes Catalyst plan a `dynamicpruningexpression` in the scan's
    * PartitionFilters (ScaleTechniquesSpec pins it + files-read <
    * files-on-disk): only the overlapping tiles' directories are ever
    * opened, the partition-level form of the envelope skipping the
    * layout_zorder_box row audits. The residual box filter then drops
    * the tile-resident rows outside the box — exactly a lakehouse
    * z-order + partition-pruning read at 100 TB.
    * Output: one row (n_tiles, n_rows, value_cents).
    */
  def zorderDppBox(spark: SparkSession, dir: String,
      x1: Long = 5L, x2: Long = 10L, y1: Long = 17L, y2: Long = 34L,
      bits: Int = 8, shift: Int = 4): DataFrame = {
    val facts = layoutReader(spark, s"zorder:$dir:$bits:$shift",
      zorderPartitionedEventsPath(spark, dir, bits, shift))
    val nTiles = 1L << (2 * bits - shift)
    val freeX = (shift + 1) / 2  // free low x-bits inside a tile
    val freeY = shift / 2
    val zPrefix = shiftleft(col("id"), shift)
    def compact(offset: Int): org.apache.spark.sql.Column =
      (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
        acc.bitwiseOR(shiftleft(
          shiftright(zPrefix, 2 * i + offset).bitwiseAND(lit(1L)), i))
      }
    val xlo = compact(0)
    val ylo = compact(1)
    val dim = spark.range(0, nTiles)
      .select(col("id").cast("int").as("ztile"),
        xlo.as("xlo"), (xlo + ((1L << freeX) - 1)).as("xhi"),
        ylo.as("ylo"), (ylo + ((1L << freeY) - 1)).as("yhi"))
      .filter(col("xhi") >= x1 && col("xlo") <= x2 &&
        col("yhi") >= y1 && col("ylo") <= y2)
    facts.join(broadcast(dim), Seq("ztile"))
      .filter(col("x").between(x1, x2) && col("d").between(y1, y2))
      .agg(countDistinct(col("ztile")).as("n_tiles"),
        count(lit(1)).as("n_rows"),
        sum(col("cents")).as("value_cents"))
  }

  /** DuckDB replay of [[zorderDppBox]]: the interleave generated
    * term-by-term, the box applied directly — pruning changes I/O,
    * never results, so the oracle is the plain filtered rollup.
    */
  def zorderDppOracleSql(bits: Int = 8, shift: Int = 4,
      x1: Long = 5L, x2: Long = 10L, y1: Long = 17L,
      y2: Long = 34L): String = {
    val mask = (1L << bits) - 1
    val terms = (0 until bits).flatMap(i => Seq(
      s"((x & ${1L << i}) << $i)",
      s"((d & ${1L << i}) << ${i + 1})"))
    s"""
      WITH e AS (SELECT (user_id & $mask) AS x,
                        ((epoch_us(ts) // 86400000000) & $mask) AS d,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      z AS (SELECT x, d, cents,
                   (${terms.mkString(" | ")}) >> $shift AS ztile FROM e)
      SELECT CAST(count(DISTINCT ztile) AS BIGINT) AS n_tiles,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS value_cents
      FROM z WHERE x BETWEEN $x1 AND $x2 AND d BETWEEN $y1 AND $y2"""
  }

  /** Events written hive-partitioned by HILBERT tile — the
    * [[hilbertBucketStats]] bucket shape turned into a physical
    * partition key, exactly as [[zorderPartitionedEventsPath]] does for
    * the Morton tile. Memoized per dataset; charged to
    * `bench_build_zorder_part`'s staging family.
    */
  private[graft] def hilbertPartitionedEventsPath(spark: SparkSession,
      dir: String, bits: Int = 8, shift: Int = 4): String =
    graft.IndexCache.getOrBuild(spark, "hilbert-part", dir, bits, shift) {
      val p = graft.streaming.OneShot.tempDir("graft_hpart_events")
      val mask = (1L << bits) - 1
      val x = col("user_id").bitwiseAND(lit(mask))
      val d = floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
        .bitwiseAND(lit(mask))
      Tables.events(spark, dir)
        .select(x.as("x"), d.as("d"), cents(col("value")).as("cents"))
        .withColumn("htile", shiftright(
          graft.functions.HilbertCurve.hilbertIndex(col("x"), col("d"), bits),
          shift).cast("int"))
        // pinned width for the same single-writer reason as the z-tile
        // layout above (AQE would coalesce the tiny shuffle to 1 task)
        .repartition(spark.sparkContext.defaultParallelism, col("htile"))
        .write.mode("overwrite").partitionBy("htile").parquet(p)
      p
    }

  /** DYNAMIC PARTITION PRUNING over the HILBERT-clustered layout — the
    * curve-story twin of [[zorderDppBox]] (r11 verdict optional ask):
    * facts are [[hilbertPartitionedEventsPath]] (events partitioned by
    * Hilbert tile), the dim side is the TILE CATALOG — each tile's
    * exact (x, y) envelope derived by walking its 2^shift curve
    * positions through the inverse transform
    * ([[graft.functions.HilbertImpl.position]]). The catalog is
    * LAYOUT-constant (4^bits / 2^shift tiles — geometry, not data), so
    * the driver-side derivation is O(4^bits) integer steps once per
    * plan; at coarser clusterings the same envelopes come from the
    * layout's own zone-map stats table. A Hilbert tile's curve segment
    * is one aligned quadrant square (even shift), which is exactly why
    * Hilbert envelopes are tighter than Morton's (the
    * layout_curve_read_amp row measures it); the box filter on the
    * catalog + the broadcast join on the PARTITION column makes
    * Catalyst plan a `dynamicpruningexpression` in the scan, so only
    * overlapping tiles' directories are opened.
    * Output: one row (n_tiles, n_rows, value_cents).
    */
  /** Memoized resolved reader over a hive-partitioned layout: a bare
    * `spark.read.parquet(path)` re-lists every partition directory on
    * EVERY query construction (hundreds of tile dirs here — driver-side,
    * serial). Real lakehouse tables avoid exactly this with manifest
    * metadata (guide §6); the cached DataFrame handle plays that role —
    * the resolved file index is reused, the scan itself still reads
    * parquet on every execution (nothing result-bearing is cached).
    */
  private[graft] def layoutReader(spark: SparkSession, key: String,
      path: String): DataFrame =
    graft.IndexCache.getOrBuild(spark, "layout-reader", key) {
      spark.read.parquet(path)
    }

  def hilbertDppBox(spark: SparkSession, dir: String,
      x1: Long = 5L, x2: Long = 10L, y1: Long = 17L, y2: Long = 34L,
      bits: Int = 8, shift: Int = 4): DataFrame = {
    import spark.implicits._
    val facts = layoutReader(spark, s"hilbert:$dir:$bits:$shift",
      hilbertPartitionedEventsPath(spark, dir, bits, shift))
    val nTiles = 1L << (2 * bits - shift)
    val span = 1L << shift
    val catalog = (0L until nTiles).map { t =>
      var (xlo, xhi, ylo, yhi) = (Long.MaxValue, Long.MinValue,
        Long.MaxValue, Long.MinValue)
      var i = 0L
      while (i < span) {
        val (px, py) = graft.functions.HilbertImpl.position(
          (t << shift) + i, bits)
        if (px < xlo) xlo = px; if (px > xhi) xhi = px
        if (py < ylo) ylo = py; if (py > yhi) yhi = py
        i += 1
      }
      (t.toInt, xlo, xhi, ylo, yhi)
    }
    // RDD-backed, not a LocalRelation: ConvertToLocalRelation would
    // fold the box filter into the literal rows and leave Catalyst's
    // PartitionPruning rule no selective predicate to key DPP off
    val dim = spark.createDataFrame(
        spark.sparkContext.parallelize(catalog, 1))
      .toDF("htile", "xlo", "xhi", "ylo", "yhi")
      .filter(col("xhi") >= x1 && col("xlo") <= x2 &&
        col("yhi") >= y1 && col("ylo") <= y2)
    facts.join(broadcast(dim), Seq("htile"))
      .filter(col("x").between(x1, x2) && col("d").between(y1, y2))
      .agg(countDistinct(col("htile")).as("n_tiles"),
        count(lit(1)).as("n_rows"),
        sum(col("cents")).as("value_cents"))
  }

  /** DuckDB replay of [[hilbertDppBox]]: the recurrence as chained
    * CTEs, the box applied directly — pruning changes I/O, never
    * results.
    */
  def hilbertDppOracleSql(bits: Int = 8, shift: Int = 4,
      x1: Long = 5L, x2: Long = 10L, y1: Long = 17L,
      y2: Long = 34L): String = {
    val mask = (1L << bits) - 1
    s"""
      WITH e AS (SELECT (user_id & $mask) AS x,
                        ((epoch_us(ts) // 86400000000) & $mask) AS d,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      hb AS (SELECT x, d, cents, x AS hx, d AS hy,
                    CAST(0 AS BIGINT) AS dd FROM e),
      ${hilbertSqlSteps(bits, "hb", Seq("x", "d", "cents"))},
      ht AS (SELECT x, d, cents, (dd >> $shift) AS htile FROM h0)
      SELECT CAST(count(DISTINCT htile) AS BIGINT) AS n_tiles,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS value_cents
      FROM ht WHERE x BETWEEN $x1 AND $x2 AND d BETWEEN $y1 AND $y2"""
  }

  /** Zone-map statistics of the events table under HILBERT clustering —
    * [[zorderBucketStats]] with the Morton interleave swapped for the
    * Hilbert index ([[graft.functions.HilbertIndex]], a native codegen
    * Expression: the rotation recurrence doesn't unroll into a Column
    * fold). Same tile granularity (`1 << (2*bits - shift)` tiles), same
    * envelope semantics — so this row and the zorder row are directly
    * comparable, and [[curveReadAmp]] quantifies the difference. The
    * oracle replays the recurrence as `bits` chained CTE steps, one
    * rotation level each — both engines walk the identical CASE chain.
    *
    * Scale shape: map-only index computation (one fused loop per row
    * inside whole-stage codegen) + one partial-aggregated shuffle on
    * the tile id; output is tile-count-bounded.
    */
  def hilbertBucketStats(spark: SparkSession, dir: String,
      bits: Int = 8, shift: Int = 10): DataFrame = {
    val mask = (1L << bits) - 1
    val x = col("user_id").bitwiseAND(lit(mask))
    val d = floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
      .bitwiseAND(lit(mask))
    Tables.events(spark, dir)
      .select(x.as("x"), d.as("d"))
      .withColumn("bucket", shiftright(
        graft.functions.HilbertCurve.hilbertIndex(col("x"), col("d"), bits),
        shift))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("xmin"), max(col("x")).as("xmax"),
        min(col("d")).as("dmin"), max(col("d")).as("dmax"))
  }

  /** The Hilbert recurrence as chained SQL CTE steps: starting from
    * `srcCte` (which must provide masked `hx`, `hy`, a BIGINT `dd` = 0,
    * and `carry` pass-through columns), emits `h{bits-1} .. h0`, each
    * one bit level: accumulate the quadrant digit, then rotate. The
    * final CTE's `dd` is the Hilbert index. Generated term-by-term so
    * DuckDB evaluates the exact integer chain the codegen'd loop does.
    */
  private def hilbertSqlSteps(bits: Int, srcCte: String,
      carry: Seq[String]): String = {
    val n = 1L << bits
    val keep = carry.map(c => s"$c, ").mkString
    var prev = srcCte
    val steps = ((bits - 1) to 0 by -1).map { i =>
      val s = 1L << i
      val digit = s"(CASE WHEN (hx & $s) > 0 AND (hy & $s) > 0 THEN 2" +
        s" WHEN (hx & $s) > 0 THEN 3" +
        s" WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)"
      val nx = s"CASE WHEN (hy & $s) > 0 THEN hx" +
        s" WHEN (hx & $s) > 0 THEN ${n - 1} - hy ELSE hy END"
      val ny = s"CASE WHEN (hy & $s) > 0 THEN hy" +
        s" WHEN (hx & $s) > 0 THEN ${n - 1} - hx ELSE hx END"
      val cte = s"h$i AS (SELECT ${keep}dd + ${s * s} * $digit AS dd, " +
        s"$nx AS hx, $ny AS hy FROM $prev)"
      prev = s"h$i"
      cte
    }
    steps.mkString(",\n      ")
  }

  /** DuckDB replay of [[hilbertBucketStats]]. */
  def hilbertOracleSql(bits: Int = 8, shift: Int = 10): String = {
    val mask = (1L << bits) - 1
    s"""
      WITH e AS (SELECT (user_id & $mask) AS x,
                        ((epoch_us(ts) // 86400000000) & $mask) AS d
                 FROM events),
      hb AS (SELECT x, d, x AS hx, d AS hy, CAST(0 AS BIGINT) AS dd FROM e),
      ${hilbertSqlSteps(bits, "hb", Seq("x", "d"))},
      ht AS (SELECT x, d, (dd >> $shift) AS bucket FROM h0)
      SELECT bucket, count(*) AS n,
             min(x) AS xmin, max(x) AS xmax,
             min(d) AS dmin, max(d) AS dmax
      FROM ht GROUP BY bucket"""
  }

  /** READ AMPLIFICATION of the two space-filling curves on the same box
    * predicate — the measured form of "Hilbert clusters tighter than
    * Z-order". Both curves tile the (user, day) grid at identical
    * granularity; a tile is READ iff its data envelope (the parquet
    * min/max stats of a file holding that tile) intersects the box.
    * Per curve: how many tiles a stats-pruning reader opens, how many
    * rows those tiles hold (= bytes actually scanned), and the rows
    * truly matching (identical for both — pruning never changes
    * results). At 100 TB the rows_scanned/rows_matched ratio IS the
    * I/O bill of the layout choice.
    * Output: (curve, n_tiles_hit, rows_scanned, rows_matched) × 2.
    */
  def curveReadAmp(spark: SparkSession, dir: String,
      x1: Long = 4L, x2: Long = 11L, y1: Long = 15L, y2: Long = 30L,
      bits: Int = 8, shift: Int = 10): DataFrame = {
    val mask = (1L << bits) - 1
    val base = Tables.events(spark, dir)
      .select(col("user_id").bitwiseAND(lit(mask)).as("x"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
          .bitwiseAND(lit(mask)).as("d"))
    def leg(name: String, tile: org.apache.spark.sql.Column): DataFrame =
      base.withColumn("tile", tile)
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("xmin"), max(col("x")).as("xmax"),
          min(col("d")).as("dmin"), max(col("d")).as("dmax"))
        .filter(col("xmax") >= x1 && col("xmin") <= x2
          && col("dmax") >= y1 && col("dmin") <= y2)
        .agg(count(lit(1)).as("n_tiles_hit"),
          coalesce(sum(col("n")), lit(0L)).as("rows_scanned"))
        .select(lit(name).as("curve"), col("n_tiles_hit"),
          col("rows_scanned"))
    val matched = base
      .filter(col("x").between(x1, x2) && col("d").between(y1, y2))
      .agg(count(lit(1)).as("rows_matched"))
    leg("zorder", shiftright(zorderValue(col("x"), col("d"), bits), shift))
      .unionByName(leg("hilbert", shiftright(
        graft.functions.HilbertCurve.hilbertIndex(col("x"), col("d"), bits),
        shift)))
      .crossJoin(broadcast(matched))
  }

  /** DuckDB replay of [[curveReadAmp]]: both curve expressions
    * generated term-by-term, envelopes and the intersection test
    * applied relationally.
    */
  def curveReadAmpOracleSql(
      x1: Long = 4L, x2: Long = 11L, y1: Long = 15L, y2: Long = 30L,
      bits: Int = 8, shift: Int = 10): String = {
    val mask = (1L << bits) - 1
    val zterms = (0 until bits).flatMap(i => Seq(
      s"((x & ${1L << i}) << $i)",
      s"((d & ${1L << i}) << ${i + 1})"))
    val hit = s"xmax >= $x1 AND xmin <= $x2 AND dmax >= $y1 AND dmin <= $y2"
    s"""
      WITH e AS (SELECT (user_id & $mask) AS x,
                        ((epoch_us(ts) // 86400000000) & $mask) AS d
                 FROM events),
      zt AS (SELECT x, d, ((${zterms.mkString(" | ")}) >> $shift) AS tile
             FROM e),
      zs AS (SELECT tile, count(*) AS n, min(x) AS xmin, max(x) AS xmax,
                    min(d) AS dmin, max(d) AS dmax
             FROM zt GROUP BY tile),
      hb AS (SELECT x, d, x AS hx, d AS hy, CAST(0 AS BIGINT) AS dd FROM e),
      ${hilbertSqlSteps(bits, "hb", Seq("x", "d"))},
      ht AS (SELECT x, d, (dd >> $shift) AS tile FROM h0),
      hs AS (SELECT tile, count(*) AS n, min(x) AS xmin, max(x) AS xmax,
                    min(d) AS dmin, max(d) AS dmax
             FROM ht GROUP BY tile),
      m AS (SELECT CAST(count(*) AS BIGINT) AS rows_matched FROM e
            WHERE x BETWEEN $x1 AND $x2 AND d BETWEEN $y1 AND $y2)
      SELECT 'zorder' AS curve, CAST(count(*) AS BIGINT) AS n_tiles_hit,
             CAST(coalesce(sum(n), 0) AS BIGINT) AS rows_scanned,
             (SELECT rows_matched FROM m) AS rows_matched
      FROM zs WHERE $hit
      UNION ALL
      SELECT 'hilbert', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n), 0) AS BIGINT),
             (SELECT rows_matched FROM m)
      FROM hs WHERE $hit"""
  }

  /** Per-file (min, max) envelopes of two columns — the pruning model a
    * stats-based reader applies: a file whose envelope misses the query
    * box is never read. Used by the spec to show the Z-order layout
    * touches fewer files than a 1-D sort for the same box predicate.
    */
  def fileEnvelopes(spark: SparkSession, path: String, xCol: String,
      yCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(xCol).as("xmin"), max(xCol).as("xmax"),
        min(yCol).as("ymin"), max(yCol).as("ymax"))

  /** ZONE-MAP skipping effectiveness — min/max file statistics, the 1-D
    * sibling of [[zorderBucketStats]]: model lineitem written as
    * `rowsPerFile`-row files under two layouts — the NATURAL insert
    * order (l_orderkey, l_linenumber) and a SHIPDATE-SORTED rewrite —
    * and report, for a one-month ship-date band, how many files a
    * stats-based reader (parquet row groups, Iceberg/Delta data files)
    * skips outright under each. The audit a lakehouse runs before
    * paying for a sort/OPTIMIZE rewrite: same bytes, same rows, and the
    * skip rate goes from near-zero (every natural file spans the whole
    * date range) to all-but-the-band — at 100 TB this is the difference
    * between scanning everything and scanning one month.
    *
    * The file model is the range-partitioned [[graft.plans.GraftOps
    * .globalRank]] (the 100 TB global-order primitive — no
    * single-partition window), bucketed every `rowsPerFile` rows; the
    * band compares exact integer epoch-days (the engine-parity idiom).
    * Scale shape: two range layouts + one |files|-row rollup each; the
    * matched-row count is one conditional sum shared by both rows.
    * Output: (layout, n_files, n_skipped, skip_permille,
    * n_rows_scanned, n_match) — n_match identical across layouts by
    * construction, pinning that pruning never changes results.
    */
  /** Morton width of the lineitem (epday, supp) layout: 17 bits spans
    * epday (~10k) and the derived tiers' strided supplier keys (~91k at
    * the 10x tier) with headroom; the build asserts the range.
    */
  private[graft] val ZorderLayoutBits = 17

  /** Per-file DUAL-KEY min/max envelopes of lineitem under a named
    * sort layout — the shared relation behind [[minmaxSkipping]] and
    * [[layoutTradeoffMatrix]] (both audit stats off these |files|-row
    * rollups; the ship-date band reads the epday columns, the supplier
    * band the supp columns). One range-partitioned
    * [[graft.plans.GraftOps.globalRank]] pass per layout, memoized +
    * persisted per (dataset, layout, rowsPerFile) so the two declared
    * rows never repeat a layout's sort.
    */
  private[graft] def layoutEnvelopes(spark: SparkSession, dir: String,
      layout: String, rowsPerFile: Int = 4096): DataFrame =
    graft.IndexCache.persisted(spark, "layout-env", dir, layout, rowsPerFile) {
      val epday = floor(unix_micros(col("l_shipdate")) / lit(86400000000L))
        .cast("long")
      val base = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"), epday.as("epday"),
          col("l_suppkey").cast("long").as("supp"))
      // the interleaved layout clusters on the Morton value of BOTH
      // keys. Overflow is a SILENT quality killer (dropped high bits
      // keep every hash gate green while de-clustering the layout —
      // ADVICE r10: the 10x tier's strided supplier keys exceeded 16
      // bits), so the width covers the derived tiers (17 bits = 131k)
      // AND the build asserts the ranges loudly.
      val li = if (layout == "zorder") {
        val mx = base.agg(max(col("epday")), max(col("supp")))
          .collect().head
        require(mx.getLong(0) < (1L << ZorderLayoutBits) &&
          mx.getLong(1) < (1L << ZorderLayoutBits),
          s"zorder layout: key range (epday=${mx.getLong(0)}, " +
            s"supp=${mx.getLong(1)}) exceeds $ZorderLayoutBits bits — " +
            "raise ZorderLayoutBits (clustering would silently degrade)")
        base.withColumn("z",
          zorderValue(col("epday"), col("supp"), ZorderLayoutBits))
      } else base
      val orderCols = layout match {
        case "natural" => Seq("l_orderkey" -> true, "l_linenumber" -> true)
        case "shipdate_sorted" =>
          Seq("epday" -> true, "l_orderkey" -> true, "l_linenumber" -> true)
        case "supplier_sorted" =>
          Seq("supp" -> true, "l_orderkey" -> true, "l_linenumber" -> true)
        case "zorder" =>
          Seq("z" -> true, "l_orderkey" -> true, "l_linenumber" -> true)
        case other => throw new IllegalArgumentException(other)
      }
      graft.plans.GraftOps.globalRank(li, orderCols, "grk")
        .withColumn("file_id", ((col("grk") - 1) / rowsPerFile).cast("long"))
        .groupBy(col("file_id"))
        .agg(min(col("epday")).as("dmn"), max(col("epday")).as("dmx"),
          min(col("supp")).as("smn"), max(col("supp")).as("smx"),
          count(lit(1)).as("n_rows"))
    }

  def minmaxSkipping(spark: SparkSession, dir: String,
      rowsPerFile: Int = 4096, d1: Long = 9190L, d2: Long = 9220L)
      : DataFrame = {
    val epday = floor(unix_micros(col("l_shipdate")) / lit(86400000000L))
      .cast("long")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), epday.as("epday"))
    val inBand = col("epday") >= d1 && col("epday") <= d2
    val matches = broadcast(li.agg(
      sum(when(inBand, 1L).otherwise(0L)).cast("long").as("n_match")))
    def audit(layout: String) =
      layoutEnvelopes(spark, dir, layout, rowsPerFile)
        .select(col("dmn").as("mn"), col("dmx").as("mx"), col("n_rows"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("mx") < d1 || col("mn") > d2, 1L).otherwise(0L))
            .as("n_skipped"),
          sum(when(col("mx") >= d1 && col("mn") <= d2, col("n_rows"))
            .otherwise(0L)).as("n_rows_scanned"))
        .crossJoin(matches)
        .select(lit(layout).as("layout"),
          col("n_files").cast("long").as("n_files"),
          col("n_skipped").cast("long").as("n_skipped"),
          expr("n_skipped * 1000 div n_files").as("skip_permille"),
          col("n_rows_scanned").cast("long").as("n_rows_scanned"),
          col("n_match"))
    audit("natural").unionByName(audit("shipdate_sorted"))
  }

  /** The LAYOUT TRADEOFF MATRIX — [[minmaxSkipping]] extended to a
    * second sort key: three physical layouts of the same rows (natural
    * insert order, ship-date-sorted, supplier-sorted) audited against
    * two predicates (a one-month date band, a 10-supplier band). The
    * point is the OFF-DIAGONAL: each single-key sort gives near-total
    * skipping for its own predicate and near-zero for the other —
    * sorting is not free pruning for every query, which is exactly the
    * tradeoff Z-ORDER interleaving ([[zorderBucketStats]]) exists to
    * split. The audit a lakehouse runs when choosing ONE sort order
    * for a table serving both access paths.
    *
    * Same file model as [[minmaxSkipping]] (range-partitioned
    * [[graft.plans.GraftOps.globalRank]] bucketed every `rowsPerFile`
    * rows — no single-partition window); per layout ONE |files|-row
    * envelope rollup carries min/max of BOTH keys, and each predicate
    * reads it with one conditional sum. Matched-row counts attach from
    * a broadcast 1-row fold, pinning that pruning never changes
    * results. Output: (layout, predicate, n_files, n_skipped,
    * skip_permille, n_rows_scanned, n_match).
    */
  def layoutTradeoffMatrix(spark: SparkSession, dir: String,
      rowsPerFile: Int = 4096, d1: Long = 9190L, d2: Long = 9220L,
      s1: Long = 0L, s2: Long = 9L): DataFrame = {
    val epday = floor(unix_micros(col("l_shipdate")) / lit(86400000000L))
      .cast("long")
    val li = Tables.lineitem(spark, dir)
      .select(epday.as("epday"), col("l_suppkey").cast("long").as("supp"))
    val inDate = col("epday") >= d1 && col("epday") <= d2
    val inSupp = col("supp") >= s1 && col("supp") <= s2
    val matches = broadcast(li.agg(
      sum(when(inDate, 1L).otherwise(0L)).cast("long").as("m_date"),
      sum(when(inSupp, 1L).otherwise(0L)).cast("long").as("m_supp")))
    def audit(layout: String) = {
      val env = layoutEnvelopes(spark, dir, layout, rowsPerFile)
      def leg(pred: String, mn: org.apache.spark.sql.Column,
          mx: org.apache.spark.sql.Column, lo: Long, hi: Long,
          m: String) =
        env.agg(count(lit(1)).as("n_files"),
            sum(when(mx < lo || mn > hi, 1L).otherwise(0L)).as("n_skipped"),
            sum(when(mx >= lo && mn <= hi, col("n_rows")).otherwise(0L))
              .as("n_rows_scanned"))
          .crossJoin(matches)
          .select(lit(layout).as("layout"), lit(pred).as("predicate"),
            col("n_files").cast("long").as("n_files"),
            col("n_skipped").cast("long").as("n_skipped"),
            expr("n_skipped * 1000 div n_files").as("skip_permille"),
            col("n_rows_scanned").cast("long").as("n_rows_scanned"),
            col(m).as("n_match"))
      leg("date_band", col("dmn"), col("dmx"), d1, d2, "m_date")
        .unionByName(leg("supp_band", col("smn"), col("smx"), s1, s2,
          "m_supp"))
    }
    audit("natural")
      .unionByName(audit("shipdate_sorted"))
      .unionByName(audit("supplier_sorted"))
  }

  /** The Z-ORDER ANSWER to [[layoutTradeoffMatrix]]'s off-diagonal
    * problem, measured under the gate: the BOX predicate (a one-month
    * date band AND a 10-supplier band together) audited on all four
    * layouts — the query NEITHER single-key sort serves. A 1-D sort
    * prunes on its own key and scans everything the other key would
    * have excluded; the Morton-interleaved layout clusters both keys,
    * so each file covers a small 2-D tile and the box prunes on both
    * axes at once. This is the measured case FOR interleaved layouts
    * at 100 TB: one physical order serving two independent access
    * paths.
    *
    * Same file model as [[layoutTradeoffMatrix]] (range-partitioned
    * [[graft.plans.GraftOps.globalRank]], `rowsPerFile` rows per file);
    * the zorder layout orders by [[zorderValue]] ([[ZorderLayoutBits]]
    * bits per key — range-asserted at build), a pure codegen bit fold the
    * DuckDB oracle replays term-by-term. Envelopes memoized via
    * [[layoutEnvelopes]] and shared with the other layout rows.
    * Output: (layout, n_files, n_skipped, skip_permille,
    * n_rows_scanned, n_match) — n_match identical across layouts.
    */
  def zorderBoxAudit(spark: SparkSession, dir: String,
      rowsPerFile: Int = 4096, d1: Long = 9190L, d2: Long = 9220L,
      s1: Long = 0L, s2: Long = 9L): DataFrame = {
    val epday = floor(unix_micros(col("l_shipdate")) / lit(86400000000L))
      .cast("long")
    val li = Tables.lineitem(spark, dir)
      .select(epday.as("epday"), col("l_suppkey").cast("long").as("supp"))
    val inBox = col("epday").between(d1, d2) && col("supp").between(s1, s2)
    val matches = broadcast(li.agg(
      sum(when(inBox, 1L).otherwise(0L)).cast("long").as("n_match")))
    def leg(layout: String) = {
      val skip = col("dmx") < d1 || col("dmn") > d2 ||
        col("smx") < s1 || col("smn") > s2
      layoutEnvelopes(spark, dir, layout, rowsPerFile)
        .agg(count(lit(1)).as("n_files"),
          sum(when(skip, 1L).otherwise(0L)).as("n_skipped"),
          sum(when(!skip, col("n_rows")).otherwise(0L))
            .as("n_rows_scanned"))
        .crossJoin(matches)
        .select(lit(layout).as("layout"),
          col("n_files").cast("long").as("n_files"),
          col("n_skipped").cast("long").as("n_skipped"),
          expr("n_skipped * 1000 div n_files").as("skip_permille"),
          col("n_rows_scanned").cast("long").as("n_rows_scanned"),
          col("n_match"))
    }
    Seq("natural", "shipdate_sorted", "supplier_sorted", "zorder")
      .map(leg).reduce(_.unionByName(_))
  }

  /** DuckDB replay of [[zorderBoxAudit]]: the same four row_number
    * layouts (the zorder one over the generated term-by-term Morton
    * expression), one dual-key envelope rollup each, one conditional
    * box-skip sum per layout.
    */
  def zorderBoxOracleSql(rowsPerFile: Int = 4096, d1: Long = 9190L,
      d2: Long = 9220L, s1: Long = 0L, s2: Long = 9L,
      bits: Int = ZorderLayoutBits): String = {
    val terms = (0 until bits).flatMap(i => Seq(
      s"((epday & ${1L << i}) << $i)",
      s"((supp & ${1L << i}) << ${i + 1})"))
    val skip = s"dmx < $d1 OR dmn > $d2 OR smx < $s1 OR smn > $s2"
    s"""
      WITH li AS (SELECT l_orderkey, l_linenumber,
                    epoch_us(l_shipdate) // 86400000000 AS epday,
                    CAST(l_suppkey AS BIGINT) AS supp
                  FROM lineitem),
      m AS (SELECT CAST(sum(CASE WHEN epday BETWEEN $d1 AND $d2
                     AND supp BETWEEN $s1 AND $s2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_match FROM li),
      zli AS (SELECT epday, supp, (${terms.mkString(" | ")}) AS z,
                l_orderkey, l_linenumber FROM li),
      rn AS (SELECT epday, supp,
               row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS grk
             FROM li),
      rd AS (SELECT epday, supp,
               row_number() OVER (ORDER BY epday, l_orderkey, l_linenumber)
                 AS grk FROM li),
      rs AS (SELECT epday, supp,
               row_number() OVER (ORDER BY supp, l_orderkey, l_linenumber)
                 AS grk FROM li),
      rz AS (SELECT epday, supp,
               row_number() OVER (ORDER BY z, l_orderkey, l_linenumber)
                 AS grk FROM zli),
      env AS (
        SELECT 'natural' AS layout, (grk - 1) // $rowsPerFile AS fid,
               min(epday) AS dmn, max(epday) AS dmx,
               min(supp) AS smn, max(supp) AS smx, count(*) AS c
        FROM rn GROUP BY 1, 2
        UNION ALL
        SELECT 'shipdate_sorted', (grk - 1) // $rowsPerFile,
               min(epday), max(epday), min(supp), max(supp), count(*)
        FROM rd GROUP BY 1, 2
        UNION ALL
        SELECT 'supplier_sorted', (grk - 1) // $rowsPerFile,
               min(epday), max(epday), min(supp), max(supp), count(*)
        FROM rs GROUP BY 1, 2
        UNION ALL
        SELECT 'zorder', (grk - 1) // $rowsPerFile,
               min(epday), max(epday), min(supp), max(supp), count(*)
        FROM rz GROUP BY 1, 2),
      a AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
              CAST(sum(CASE WHEN $skip THEN 1 ELSE 0 END) AS BIGINT)
                AS n_skipped,
              CAST(sum(CASE WHEN NOT ($skip) THEN c ELSE 0 END) AS BIGINT)
                AS n_rows_scanned
            FROM env GROUP BY 1)
      SELECT layout, n_files, n_skipped,
             n_skipped * 1000 // n_files AS skip_permille,
             n_rows_scanned, n_match
      FROM a CROSS JOIN m"""
  }
}
