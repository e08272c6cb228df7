package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Cross-engine deterministic numeric helpers.
  *
  * Double SUMs are fold-order-dependent: Spark (partitioned, partial aggs)
  * and the DuckDB oracle fold in different orders, so `sum(double)` can
  * differ in the last ulps and then round() can flip at a bucket boundary —
  * a silent hash mismatch (SURVEY.md §7.6.2).
  *
  * Fix: the fixtures' monetary/measure columns are exact 2-decimal values,
  * so scale them to integer cents BEFORE aggregating. Integer sums are
  * exact and order-independent; a single final division by a power of ten
  * is one IEEE op and deterministic in both engines.
  *
  * Scale note: long cents of 2-decimal values overflow only past ~9e16
  * dollars of SUM per group; products of two/three cent-factors (1e-4/1e-6
  * units) overflow past ~9e14/~9e12 — still far above the 100 TB workload's
  * per-group magnitudes, and Spark would raise (ANSI) rather than corrupt.
  */
object ExactNum {

  /** Exact 2-decimal column -> integer hundredths (cents). */
  def cents(c: Column): Column = round(c * 100, 0).cast(LongType)
}
