package graft.plans

import org.apache.spark.sql.{DataFrame, Dataset, GraftColumn, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** User-facing entry points for graft's custom operators. */
object GraftOps {

  /** Row-count cutover between the single-partition window form and
    * the range-partitioned global-order primitives: below it, one
    * reducer sorts the relation in well under a second and the
    * primitives' fixed cost (two extra jobs + Row conversion)
    * dominates — measured 3-6x slower on 1.5k-row rollups at sf0.1; at
    * or above it, the single-partition window IS the bottleneck and
    * the range form is the only shape that survives. Callers with a
    * dimension-sized rollup (|customers|, |suppliers|) branch on a
    * cheap `count()` — the small leg collects nothing, so there is no
    * [[driverOr]] probe to reuse; callers ranking the raw corpus
    * (curriculum, sequence packing) use the range form unconditionally.
    */
  val smallOrderCutover: Long = 4000000L

  /** The one driver-or-distributed cutover. One `limit(bound + 1)`
    * collect decides the leg and, under the bound, IS the driver leg's
    * input (no count job); the bound is the registry entry `key` of
    * [[graft.IndexCache.driverArtifactBounds]] over `rowWidth` (one
    * row's share of the entry's unit). Each decision is logged.
    */
  def driverOr[T, R](ds: Dataset[T], key: String, rowWidth: Long = 1L)(
      driver: Array[T] => R)(distributed: => R): R = {
    val (_, entries) = graft.IndexCache.driverArtifactBounds.getOrElse(key,
      throw new IllegalStateException(s"driverOr: no registry bound '$key'"))
    val bound = math.max(1L, entries / math.max(1L, rowWidth))
    val rows = ds.limit(math.min(bound + 1, Int.MaxValue.toLong).toInt).collect()
    val small = rows.length <= bound
    graft.IndexCache.recordLeg(key, if (small) "driver" else "distributed",
      rows.length, bound)
    if (small) driver(rows) else distributed
  }

  /** Ensure a compute-bound relation carries at least the executor
    * width before its expensive map stage. The fixture tables are
    * single-row-group parquet files, so their scans — and anything
    * persisted straight off them — carry ONE partition, and every
    * downstream distance kernel / typed token pass serializes on one
    * core while the rest idle (measured: the TwoNN broadcast-NLJ spent
    * 2-4 s in a single task at sf0.1). A strict no-op whenever the
    * plan already has >= defaultParallelism partitions — any real
    * table at scale — so the extra round-robin exchange exists exactly
    * where there are idle cores and near-zero bytes to move
    * (optimization guide §2.2/§2.6: parallelize the compute, shuffle
    * the skinny relation). Only for order-insensitive consumers
    * (aggregations, joins, bounded heaps — every declared kernel);
    * callers relying on scan order must not widen. Inspecting
    * `df.rdd` forces physical planning only — keep inputs join-free
    * (scan/filter/project), which all call sites are.
    */
  def widen(df: DataFrame): DataFrame =
    widenTo(df, df.sparkSession.sparkContext.defaultParallelism)

  /** [[widen]] with an explicit target — the PERSISTED-memo form: a
    * relation that is cached and then consumed by MANY cheap multi-
    * stage queries should carry a small fixed width (every stage over
    * a cached relation pays one task launch per cached partition, so
    * executor-width memos tax every consumer — measured in round 14:
    * ~22 s across 37 serve rows at local[32] vs local[8]). Target 8
    * keeps the one-time build parallel (driver benchmarks show the
    * typed builds within ~10% of full width) while consumers pay 8
    * launches, not 32+. Still a strict no-op on any relation already
    * at least that wide — i.e. on every real table at scale.
    */
  def widenTo(df: DataFrame, target: Int): DataFrame =
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)

  /** The input globally SORTED by `orderCols` across a real multi-
    * partition range layout: sampled range boundaries decide each row's
    * partition (`repartitionByRange`), then each partition sorts
    * locally — partition i's rows all precede partition i+1's in the
    * total order. The building block of [[globalRank]] /
    * [[globalPrefixSum]]: at ANY scale no single task ever sees more
    * than ~|input|/partitions rows, unlike an unpartitioned
    * `Window.orderBy` which funnels the whole relation through one
    * reducer.
    */
  private def rangeOrdered(df: DataFrame, orderCols: Seq[(String, Boolean)],
      partitions: Int): DataFrame = {
    val sortExprs = orderCols.map { case (n, asc) =>
      if (asc) col(n).asc else col(n).desc
    }
    df.repartitionByRange(partitions, sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
  }

  /** The range-ordered layout as an `InternalRow` RDD + its schema —
    * the primitives stay on UnsafeRows end to end (one buffer copy per
    * row for the persist) instead of round-tripping every field
    * through boxed external Rows on both the way out AND the way back
    * in. Partition index i is range bucket i, exactly as with `.rdd`.
    */
  private def rangeOrderedInternal(df: DataFrame,
      orderCols: Seq[(String, Boolean)], partitions: Int)
      : (org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
        StructType) = {
    val ordered = rangeOrdered(df, orderCols, partitions)
    (ordered.queryExecution.toRdd.map(_.copy()), ordered.schema)
  }

  /** Stamp `nExtra` long columns onto every row of a partition through
    * one reusable UnsafeProjection — `fill(i, row, extra)` writes the
    * per-row values into `extra` (a mutable buffer) as the iterator
    * advances. The projection's output buffer is reused per row (the
    * standard scan contract; buffering consumers copy).
    */
  private def stampedFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      inSchema: StructType, extraFields: Seq[StructField])(
      fill: Int =>
        (org.apache.spark.sql.catalyst.InternalRow => Array[Long]))
      : DataFrame = {
    val outSchema = StructType(inSchema.fields ++ extraFields)
    val nExtra = extraFields.length
    val stamped = rdd.mapPartitionsWithIndex { (i, it) =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outSchema)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val extra =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(nExtra)
      val f = fill(i) // fresh stateful stamper per partition (no sharing)
      it.map { row =>
        val vals = f(row)
        var j = 0
        while (j < nExtra) { extra.update(j, vals(j)); j += 1 }
        proj(joined(row, extra))
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.GraftColumn.ofInternal(spark, stamped, outSchema)
  }

  /** Persisted range-ordered RDDs, bounded. Persisting the ordered
    * layout before the two jobs (subtotal, stamp) buys two guarantees
    * at the cost of one MEMORY_AND_DISK copy:
    *
    *   1. the local sort above the reused shuffle files executes ONCE —
    *      the stamping job reads the materialized partitions instead of
    *      re-sorting (the self-identified round-7 double-sort);
    *   2. both jobs observe the SAME physical row order even when
    *      `orderCols` is not a total order — without the cache, a
    *      non-deterministic tie layout could disagree between the
    *      subtotal and stamping executions with no error. (Callers
    *      should still pass a tie-breaking final key: a recompute after
    *      executor loss — the only path around the cache, since
    *      MEMORY_AND_DISK spills rather than evicts — re-runs both
    *      jobs' lineage together, but the output tie order then
    *      depends on layout.)
    *
    * The queue unpersists the oldest entries past a small bound so a
    * long-lived session (the 300-query Verify run) never accumulates
    * cached copies; a stale consumer past the bound silently recomputes.
    */
  private val persistedOrders = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]]()
  private def persistOrdered(
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persistedOrders.add(rdd)
    while (persistedOrders.size > 8) {
      val old = persistedOrders.poll()
      if (old != null) old.unpersist(blocking = false)
    }
    rdd
  }

  /** Per-partition row-count (or value-sum) EXCLUSIVE offsets over a
    * range-ordered layout — the "one tiny scan of partition subtotals"
    * both primitives share: one lightweight job computes each
    * partition's subtotal (|partitions| longs to the driver — bounded
    * by cluster size, never data size), scanLeft turns them into start
    * offsets, and the array broadcasts back. Returns (offsets, total).
    */
  private def partitionOffsets(
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      subtotal: Iterator[org.apache.spark.sql.catalyst.InternalRow] => Long)
      : (Array[Long], Long) = {
    val subs = rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, subtotal(it))),
        preservesPartitioning = true)
      .collect().sortBy(_._1).map(_._2)
    (subs.scanLeft(0L)(_ + _), subs.sum)
  }

  /** Scalable GLOBAL total-order rank: `row_number()` over `orderCols`
    * (name, ascending) without ever forming a single-partition window —
    * range-partition on the sort keys, local sort, per-partition row
    * counts as broadcast offsets, then each task stamps
    * `offset(p) + local_position`. Appends `rankName` (1-based) and,
    * when `countName` is set, the total row count (the pair a decile /
    * percentile projection needs). Output rows and values are identical
    * to the window form for any TOTAL order (give a tie-breaking final
    * key); only the plan shape changes — this is the 100 TB form of
    * `row_number().over(Window.orderBy(...))`.
    */
  def globalRank(df: DataFrame, orderCols: Seq[(String, Boolean)],
      rankName: String = "grk", countName: Option[String] = None,
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val (rdd0, inSchema) = rangeOrderedInternal(df, orderCols, p)
    val rdd = persistOrdered(rdd0)
    val (offsets, total) = partitionOffsets(rdd, it => {
      var n = 0L; while (it.hasNext) { it.next(); n += 1L }; n
    })
    val bc = spark.sparkContext.broadcast(offsets)
    val extras = Seq(StructField(rankName, LongType, nullable = false)) ++
      countName.map(StructField(_, LongType, nullable = false))
    val nOut = 1 + countName.size
    stampedFrame(spark, rdd, inSchema, extras) { i =>
      var r = bc.value(i)
      val out = new Array[Long](nOut)
      if (nOut > 1) out(1) = total
      _ => { r += 1L; out(0) = r; out }
    }
  }

  /** [[globalRank]] and [[globalPrefixSum]] fused into ONE range
    * layout and ONE stamping pass: appends the 1-based rank, the
    * prefix sum of `valueCol` (inclusive by default — the Pareto /
    * cumulative-share shape), and optionally the total row count and
    * total value sum as broadcast constant columns (the quantities a
    * share/ntile projection divides by, without a second aggregate
    * job). One subtotal job collects |partitions| (count, sum) pairs.
    */
  def globalRankAndPrefix(df: DataFrame, orderCols: Seq[(String, Boolean)],
      valueCol: String, rankName: String = "grk",
      sumName: String = "prefix_sum", exclusive: Boolean = false,
      countName: Option[String] = None, totalName: Option[String] = None,
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val (rdd0, inSchema) = rangeOrderedInternal(df, orderCols, p)
    val vIdx = inSchema.fieldIndex(valueCol)
    val rdd = persistOrdered(rdd0)
    val subs = rdd.mapPartitionsWithIndex({ (i, it) =>
      var n = 0L; var s = 0L
      while (it.hasNext) { s += it.next().getLong(vIdx); n += 1L }
      Iterator((i, n, s))
    }, preservesPartitioning = true).collect().sortBy(_._1)
    val cntOff = subs.map(_._2).scanLeft(0L)(_ + _)
    val sumOff = subs.map(_._3).scanLeft(0L)(_ + _)
    val totalN = cntOff.last
    val totalS = sumOff.last
    val bc = spark.sparkContext.broadcast((cntOff, sumOff))
    val extras = Seq(StructField(rankName, LongType, nullable = false),
      StructField(sumName, LongType, nullable = false)) ++
      countName.map(StructField(_, LongType, nullable = false)) ++
      totalName.map(StructField(_, LongType, nullable = false))
    stampedFrame(spark, rdd, inSchema, extras) { i =>
      var rk = bc.value._1(i)
      var acc = bc.value._2(i)
      val out = new Array[Long](extras.length)
      var j = 2
      countName.foreach { _ => out(j) = totalN; j += 1 }
      totalName.foreach { _ => out(j) = totalS }
      row => {
        val v = row.getLong(vIdx)
        rk += 1L
        out(0) = rk
        out(1) = if (exclusive) acc else acc + v
        acc += v
        out
      }
    }
  }

  /** SQL `ntile(buckets)` reproduced by exact integer arithmetic from
    * a precomputed (rank, total) pair — the piece that lets an ntile
    * window re-plan onto [[globalRank]]: the first `n mod buckets`
    * buckets carry `n div buckets + 1` rows, the rest `n div buckets`
    * (the standard larger-buckets-first contract, matched bit-for-bit
    * against `ntile().over` by GlobalOrderSpec on non-divisible n).
    */
  def ntileFromRank(rk: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, when}
    val size = n.divide(lit(buckets)).cast("long")
    val rem = n.mod(lit(buckets))
    val bigSpan = (size + lit(1L)) * rem
    when(rk <= bigSpan,
      ((rk - lit(1L)) / (size + lit(1L))).cast("long") + lit(1L))
      .otherwise(
        rem + ((rk - lit(1L) - bigSpan) / size).cast("long") + lit(1L))
      .cast("int")
  }

  /** Scalable GLOBAL prefix sum of `valueCol` in `orderCols` order
    * (exclusive by default — each row sees the sum of everything
    * strictly before it): the same range-partitioned skeleton as
    * [[globalRank]], with per-partition value subtotals as the
    * broadcast offsets and a running local fold per task. The 100 TB
    * form of `sum(v).over(Window.orderBy(...).rowsBetween(
    * unboundedPreceding, -1))` — identical output, no single-reducer
    * sort. Values must be non-null longs (exact integer discipline:
    * order-free per-partition sums, one deterministic scan of
    * |partitions| subtotals).
    */
  def globalPrefixSum(df: DataFrame, orderCols: Seq[(String, Boolean)],
      valueCol: String, sumName: String = "prefix_sum",
      exclusive: Boolean = true, partitions: Int = 0): DataFrame =
    // the single-column form IS the fused form at width 1 — one
    // implementation of the subtle offset/stamping machinery
    globalPrefixSums(df, orderCols, Seq(valueCol), Seq(sumName),
      exclusive, partitions)

  /** [[globalPrefixSum]] over SEVERAL value columns in ONE range
    * layout and ONE stamping pass — the fused form for consumers that
    * need parallel running sums in the same total order (the KS
    * statistic's two CDFs): per-partition subtotal VECTORS collect as
    * |partitions|·|values| longs, broadcast back, and every column
    * stamps in the same per-task fold. Appends `sumNames(i)` for each
    * `valueCols(i)`.
    */
  def globalPrefixSums(df: DataFrame, orderCols: Seq[(String, Boolean)],
      valueCols: Seq[String], sumNames: Seq[String],
      exclusive: Boolean = true, partitions: Int = 0): DataFrame = {
    require(valueCols.nonEmpty && valueCols.length == sumNames.length)
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val (rdd0, inSchema) = rangeOrderedInternal(df, orderCols, p)
    val vIdx = valueCols.map(inSchema.fieldIndex).toArray
    val rdd = persistOrdered(rdd0)
    val subs = rdd.mapPartitionsWithIndex({ (i, it) =>
      val s = new Array[Long](vIdx.length)
      while (it.hasNext) {
        val row = it.next()
        var j = 0
        while (j < vIdx.length) { s(j) += row.getLong(vIdx(j)); j += 1 }
      }
      Iterator((i, s))
    }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)
    val offsets = subs.scanLeft(new Array[Long](vIdx.length)) { (acc, s) =>
      acc.zip(s).map { case (a, b) => a + b }
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val extras = sumNames.map(StructField(_, LongType, nullable = false))
    stampedFrame(spark, rdd, inSchema, extras) { i =>
      val acc = bc.value(i).clone()
      val out = new Array[Long](vIdx.length)
      row => {
        var j = 0
        while (j < vIdx.length) {
          val v = row.getLong(vIdx(j))
          out(j) = if (exclusive) acc(j) else acc(j) + v
          acc(j) += v
          j += 1
        }
        out
      }
    }
  }

  /** Top-k rows per group with a dense 1..k rank column, executed by
    * [[TopKPerGroupExec]] (per-group bounded heaps; one shuffle on the
    * group keys). `orderCols` are (name, ascending) pairs. Drop-in for
    * the window form `row_number().over(partitionBy(group).orderBy(
    * order)) <= k`.
    *
    * Columns are resolved by name against the input directly: Spark 4
    * Columns carry ColumnNode wrappers the analyzer only unwraps inside
    * built-in operators, so a custom logical node must bind real
    * attributes itself.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int,
      rkName: String = "rk", partialFirst: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.installStrategy(spark)
    val child = df.queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    def attr(n: String): Attribute =
      child.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${child.output.map(_.name).mkString(", ")}"))
    val groups = groupCols.map(attr)
    val order = orderCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    // two-phase form for low-cardinality groups: a map-side heap prune
    // (no shuffle; <= groups x k survivors per input partition) so the
    // clustering shuffle below carries candidates, not the whole table
    val pruned: LogicalPlan =
      if (!partialFirst) child
      else Project(child.output,
        TopKPerGroup(groups, order, k,
          TopKPerGroup.rankAttribute("_partial_" + rkName), child,
          partial = true))
    val node = TopKPerGroup(groups, order, k,
      TopKPerGroup.rankAttribute(rkName), pruned)
    GraftColumn.ofRows(spark, node)
  }
}
