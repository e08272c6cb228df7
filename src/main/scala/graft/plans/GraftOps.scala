package graft.plans

import org.apache.spark.sql.{DataFrame, Dataset, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** User-facing entry points for graft's custom operators. */
object GraftOps {

  /** Row-count cutover between the single-partition window form and
    * [[globalOrder]], read by one site: `Relational.rfmSegments` (three
    * ntile windows over the |customers| rollup). Both legs, measured on
    * the sf0.1 rollups (<= 15k customers) at `local[4]`, median of 9
    * alternating reps:
    *
    * {{{
    * site    window leg         range leg          same rows
    * pareto  0.515 s / 7 jobs   0.467 s / 6 jobs   yes
    * gini    0.369 s / 7 jobs   0.351 s / 7 jobs   yes
    * rfm     0.769 s / 10 jobs  0.946 s / 14 jobs  yes
    * }}}
    *
    * Only rfm's window leg pays for its `count()` (its range leg runs
    * one range layout per quartile), so pareto and gini take
    * [[globalOrder]] unconditionally, as do the corpus-ranking callers
    * (curriculum, sequence packing). At or above the cutover the
    * single-partition window IS the bottleneck and the range form is
    * the only shape that survives.
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

  /** The one scalable GLOBAL total-order primitive: `row_number()`,
    * running sums, the row count and the sum totals over `orderCols`
    * (name, ascending) without ever forming a single-partition window.
    * The input is range-partitioned on the sort keys (sampled
    * boundaries, so partition i's rows all precede partition i+1's)
    * and sorted within each partition; one subtotal job collects a
    * (row count, value sums) vector per partition (|partitions| x
    * (1 + |sums|) longs to the driver — bounded by cluster size, never
    * data size), a scan turns them into start offsets broadcast back,
    * and one stamping pass appends, in this order:
    *
    *   - `rank`: the 1-based rank (`row_number()`);
    *   - `sums` (value, name): the running sum of each value column,
    *     inclusive of the row itself, or strictly before it when
    *     `exclusive` (`rowsBetween(unboundedPreceding, -1)`, 0 first);
    *   - `count`: the total row count (the pair an ntile / decile
    *     projection needs with the rank);
    *   - `totals`: each sum column's grand total, one name per `sums`
    *     entry (the denominator of a cumulative share).
    *
    * Output rows and values are identical to the window forms for any
    * TOTAL order (give a tie-breaking final key); no task ever sees
    * more than ~|input|/partitions rows. Values must be non-null longs
    * (exact integer discipline: order-free per-partition sums, one
    * deterministic scan of the subtotals).
    */
  def globalOrder(df: DataFrame, orderCols: Seq[(String, Boolean)],
      rank: Option[String] = None, sums: Seq[(String, String)] = Nil,
      exclusive: Boolean = false, count: Option[String] = None,
      totals: Seq[String] = Nil): DataFrame = {
    require(totals.isEmpty || totals.length == sums.length,
      s"globalOrder: ${totals.length} totals for ${sums.length} sums")
    val spark = df.sparkSession
    val sortExprs = orderCols.map { case (n, asc) =>
      if (asc) col(n).asc else col(n).desc
    }
    val ordered = df
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
    // UnsafeRows end to end: one buffer copy per row for the persist,
    // no boxed external Rows on the way out or back in
    val inSchema = ordered.schema
    val rdd = persistOrdered(ordered.queryExecution.toRdd.map(_.copy()))
    val vIdx = sums.map { case (v, _) => inSchema.fieldIndex(v) }.toArray
    val nv = vIdx.length
    // slot 0 counts rows, slot j + 1 sums value column j
    val subs = rdd.mapPartitionsWithIndex({ (i, it) =>
      val s = new Array[Long](nv + 1)
      while (it.hasNext) {
        val row = it.next()
        s(0) += 1L
        var j = 0
        while (j < nv) { s(j + 1) += row.getLong(vIdx(j)); j += 1 }
      }
      Iterator((i, s))
    }, preservesPartitioning = true).collect().sortBy(_._1).map(_._2)
    val offsets = subs.scanLeft(new Array[Long](nv + 1)) { (acc, s) =>
      acc.zip(s).map { case (a, b) => a + b }
    }
    val grand = offsets.last
    val bc = spark.sparkContext.broadcast(offsets)
    val extras = (rank.toSeq ++ sums.map(_._2) ++ count ++ totals)
      .map(StructField(_, LongType, nullable = false))
    val outSchema = StructType(inSchema.fields ++ extras)
    val nRank = rank.size
    val stamped = rdd.mapPartitionsWithIndex { (i, it) =>
      val proj = UnsafeProjection.create(outSchema)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(extras.length)
      val acc = bc.value(i).clone() // rows and sums before this partition
      var k = nRank + nv
      count.foreach { _ => extra.update(k, grand(0)); k += 1 }
      totals.indices.foreach(j => extra.update(k + j, grand(j + 1)))
      it.map { row =>
        acc(0) += 1L
        if (nRank == 1) extra.update(0, acc(0))
        var j = 0
        while (j < nv) {
          val v = row.getLong(vIdx(j))
          extra.update(nRank + j, if (exclusive) acc(j + 1) else acc(j + 1) + v)
          acc(j + 1) += v
          j += 1
        }
        // the projection's output buffer is reused per row (the
        // standard scan contract; buffering consumers copy)
        proj(joined(row, extra))
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    GraftColumn.ofInternal(spark, stamped, outSchema)
  }

  /** SQL `ntile(buckets)` reproduced by exact integer arithmetic from
    * a precomputed (rank, total) pair — the piece that lets an ntile
    * window re-plan onto [[globalOrder]]: the first `n mod buckets`
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
