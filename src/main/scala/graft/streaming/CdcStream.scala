package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** STREAMING CDC APPLY — the consumption half of the MERGE contract
  * ([[graft.sources.Ingest.mergeChangelogShowcase]] produces the
  * changelog; a real lakehouse also has a process that TAILS that
  * changelog and maintains the downstream table incrementally). The
  * file stream source tails the staged changelog one chunk per
  * micro-batch; each batch MERGEs its slice into a BUCKETED versioned
  * state table inside `foreachBatch`.
  *
  * State layout (the scale fix over the r10 full-table rewrite): the
  * table lives hash-bucketed by `pmod(o_orderkey, NStateBuckets)`;
  * version directory `v=<batchId>` holds ONLY the buckets that batch's
  * changes touch (`bucket=<b>` hive dirs), and "the table as of v" is,
  * per bucket, the newest `bucket=<b>` dir with version <= v (falling
  * back to the bucketed base snapshot). A micro-batch therefore
  * costs one |batch|-bounded join against the TOUCHED buckets' scan
  * plus a rewrite of exactly those buckets — O(changes x bucket
  * granularity) per trigger, never O(|table|): with 100 TB of state in
  * 100k buckets, a trigger touching 50 keys rewrites ~50 bucket files,
  * not the table. This is precisely `partitionOverwriteMode=dynamic`'s
  * contract, expressed with explicit per-version directories so the
  * crash discipline below stays inspectable.
  *
  * Crash discipline (exactly-once, proven by CrashRecoverySpec): a
  * replayed batch re-resolves its inputs as "newest version STRICTLY
  * BELOW my id" — a partially-written `v=<id>` from a crash is never
  * read, and `mode(overwrite)` truncates it before the rewrite, so the
  * restart converges to the identical state byte-for-byte.
  * CdcBucketSpec pins the write-amplification claim structurally: a
  * batch touching k buckets writes exactly k bucket dirs under its
  * version, and untouched buckets' files are not rewritten.
  */
object CdcStream {

  /** State-table bucket count. Sized so the sf fixtures exercise
    * multi-bucket versions while each chunk still leaves most buckets
    * untouched; at 100 TB this is the knob that sets write
    * amplification (buckets ~ |table| / target-file-size).
    */
  private[graft] val NStateBuckets = 16

  private val logSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("action", StringType),
    StructField("old_cents", LongType),
    StructField("new_cents", LongType)))

  /** Stage the deterministic changelog as `nChunks` single-file chunks
    * (keyed by pmod(o_orderkey, nChunks) — each key carries exactly one
    * action, so chunk order can never matter). Memoized per
    * (dataset, nChunks).
    */
  private def stagedChangelogDir(spark: SparkSession, dir: String,
      nChunks: Int = 4): String =
    graft.IndexCache.getOrBuild(spark, "orders-cdc-dir", dir, nChunks) {
      val out = OneShot.tempDir("graft-cdc-log")
      val log = graft.sources.Ingest.mergeChangelogShowcase(spark, dir)
        .localCheckpoint(true)
      // append-mode writes race on the output _temporary dir — stage
      // each chunk to its own directory concurrently (§2.6), then move
      // the part files in chunk order (same file set as the former
      // sequential appends; the stream tails files, not row order)
      val staged = (0 until nChunks).map(i => s"$out-chunk$i")
      concurrently((0 until nChunks).map { i => () =>
        log.filter(pmod(col("o_orderkey"), lit(nChunks)) === i)
          .coalesce(1)
          .write.mode("overwrite").parquet(staged(i)): Unit
      }: _*)
      val t0 = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(staged.head)).toMillis
      staged.zipWithIndex.foreach { case (s, i) =>
        walking(java.nio.file.Paths.get(s))(
          _.filter(p => p.toString.endsWith(".parquet"))
            .forEach { p =>
              val target = java.nio.file.Paths.get(
                s"$out/chunk-$i-${p.getFileName}")
              java.nio.file.Files.move(p, target)
              // pin mtime to chunk order: the file stream source
              // discovers by (modTime, path), and concurrent staging
              // would otherwise interleave discovery order (the end
              // state is order-invariant — disjoint keys — but the
              // former sequential appends committed in chunk order,
              // and batch ids should stay reproducible)
              java.nio.file.Files.setLastModifiedTime(target,
                java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
            })
        rmTree(s)
      }
      out
    }

  /** The initial (o_orderkey, cents) state rendered once per dataset,
    * hash-bucketed like every later version (`bucket=<b>` dirs) — a
    * one-time export like the stream stagings, charged to
    * `bench_build_cdc_stage` so the declared row measures the apply
    * loop, not the base snapshot.
    */
  private def baseStateDir(spark: SparkSession, dir: String): String =
    graft.IndexCache.getOrBuild(spark, "orders-cdc-base", dir, NStateBuckets) {
      val base = OneShot.tempDir("graft-cdc-base")
      graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(NStateBuckets)).as("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(base)
      base
    }

  /** One-time staging for the declared CDC rows (chunked changelog +
    * base snapshot + the IVM view's initial build + the applied state
    * the compaction row folds) — the bench charges it here.
    */
  def prestage(spark: SparkSession, dir: String): Long = {
    // The stagings are chains of tiny jobs whose wall-clock is dominated
    // by per-job driver gaps (planning, commit protocol, micro-batch
    // orchestration — measured: 140 jobs summing 14 s over a 28 s span,
    // no job over 1.1 s). Overlapping INDEPENDENT stagings from a small
    // thread pool back-fills those gaps (optimization guide §2.6);
    // IndexCache is per-key locked, so shared inputs (base snapshot,
    // staged changelog) build exactly once and dependents block on them.
    // Phase 1 holds the artifacts with no inter-dependencies; phase 2
    // holds the deferred folds that read phase-1 layouts.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      def awaitAll(fs: Seq[scala.concurrent.Future[_]]): Unit =
        fs.foreach(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration.Inf))
      // the two roots everything else reads — built first so phase 1
      // never stacks four waiters on one key lock
      stagedChangelogDir(spark, dir)
      baseStateDir(spark, dir)
      awaitAll(Seq(
        scala.concurrent.Future(appliedStateDirs(spark, dir)),
        scala.concurrent.Future(versionChainDirs(spark, dir)),
        scala.concurrent.Future(morSidecarDirs(spark, dir)),
        scala.concurrent.Future(morChainDirs(spark, dir)),
        scala.concurrent.Future(ivmBaseAggDir(spark, dir))))
      // the deferred folds (major + minor + retention) are stagings
      // too — building the summary DataFrames runs their memoized writes
      awaitAll(Seq(
        scala.concurrent.Future(morCompactedSummary(spark, dir)),
        scala.concurrent.Future(morMinorCompactedSummary(spark, dir)),
        scala.concurrent.Future(expiredChainSummary(spark, dir))))
    } finally pool.shutdown()
    1L
  }

  /** The newest version < `beforeV` that wrote `bucket`, or -1 for
    * "only the base snapshot has it". Driver-side directory listing
    * over <= |versions| names — O(1) metadata, the in-miniature form
    * of a lakehouse transaction-log lookup.
    */
  private def latestVersionFor(stateRoot: String, bucket: Int,
      beforeV: Long): Long = {
    val root = new java.io.File(stateRoot)
    val versions = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
      .filter(_ < beforeV)
    versions.sorted(Ordering[Long].reverse)
      .find(v => new java.io.File(s"$stateRoot/v=$v/bucket=$bucket").exists())
      .getOrElse(-1L)
  }

  /** The state as of version `beforeV - 1` restricted to `buckets`:
    * per bucket, read its newest writer's directory. Paths only —
    * the data never routes through the driver.
    */
  private def stateAt(spark: SparkSession, stateRoot: String,
      baseDir: String, buckets: Seq[Int], beforeV: Long): DataFrame = {
    val paths = buckets.map { b =>
      latestVersionFor(stateRoot, b, beforeV) match {
        case -1L => s"$baseDir/bucket=$b"
        case v => s"$stateRoot/v=$v/bucket=$b"
      }
    // a pmod residue no base row ever occupied (sparse/skewed keys, or
    // NStateBuckets raised past key diversity) has no directory at all
    // — an empty bucket, not an error
    }.filter(p => new java.io.File(p).exists())
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("o_orderkey", LongType),
          StructField("cents", LongType))))
    else spark.read.parquet(paths: _*)
  }

  /** MERGE one changelog slice into the bucketed state as version
    * `id` — the shared batch body of the streaming apply loop and the
    * deterministic version-chain builder. Touched-bucket discovery is a
    * bounded collect (<= the NStateBuckets constant, never data-sized);
    * every slice key lands in a touched bucket by construction, so
    * merging only those buckets is the complete merge.
    */
  private[graft] def mergeSliceIntoState(slice: DataFrame, id: Long,
      stateRoot: String, baseDir: String): Unit = {
    val s = slice.sparkSession
    val touched = slice
      .select(pmod(col("o_orderkey"), lit(NStateBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touched.nonEmpty) {
      val prev = stateAt(s, stateRoot, baseDir, touched.toSeq, id)
      val upserts = slice
        .filter(col("action").isin("update", "insert"))
        .select(col("o_orderkey"), col("new_cents").as("cents"))
      val dels = slice.filter(col("action") === "delete")
        .select(col("o_orderkey"))
      val next = graft.sources.Ingest.deleteByKey(
        graft.sources.Ingest.upsert(prev, upserts, "o_orderkey"),
        dels, "o_orderkey")
      next
        .withColumn("bucket",
          pmod(col("o_orderkey"), lit(NStateBuckets)))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$stateRoot/v=$id")
      // a touched bucket whose merge result is EMPTY gets no hive dir
      // from partitionBy — but this batch is still its newest writer,
      // and leaving no directory would resolve as-of reads to an OLDER
      // version, resurrecting the rows this batch deleted. Materialize
      // the emptiness: a zero-row parquet file per emptied bucket
      // (<= NStateBuckets tiny footer writes, never data-sized).
      val written = Option(new java.io.File(s"$stateRoot/v=$id").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(_.getName.stripPrefix("bucket=").toInt).toSet
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("cents", LongType)))
      touched.filterNot(written).foreach { b =>
        s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
          .write.mode("overwrite").parquet(s"$stateRoot/v=$id/bucket=$b")
      }
    }
  }

  /** Drive the apply loop: tail `stagedDir` one file per trigger and
    * maintain the bucketed (o_orderkey, cents) state table under
    * `stateRoot/v=<batchId>/bucket=<b>`, starting from the bucketed
    * snapshot at `baseDir`. Exposed so the crash-recovery spec can
    * drive the SAME loop with an injected failure.
    */
  private[graft] def runApply(spark: SparkSession, stagedDir: String,
      baseDir: String, stateRoot: String, ckpt: String,
      crashAt: Long = -1L,
      crashed: java.util.concurrent.atomic.AtomicBoolean = null): Unit = {
    tailChangelog(spark, stagedDir, ckpt, crashAt, crashed) { (batch, id) =>
      mergeSliceIntoState(batch.localCheckpoint(true), id,
        stateRoot, baseDir)
    }
  }

  /** Tail the staged changelog at `stagedDir` one chunk per trigger
    * through `body`, as a one-shot run checkpointed at `ckpt`. The crash
    * specs' hook: with `crashAt >= 0`, the first batch at or past it
    * throws AFTER `body` ran — its output durable, its commit lost.
    */
  private def tailChangelog(spark: SparkSession, stagedDir: String,
      ckpt: String, crashAt: Long,
      crashed: java.util.concurrent.atomic.AtomicBoolean)(
      body: (Dataset[Row], Long) => Unit): Unit =
    OneShot.foreachBatch(spark, ckpt, spark.readStream.schema(logSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        body(batch, id)
        if (crashAt >= 0 && id >= crashAt
            && crashed.compareAndSet(false, true))
          throw new RuntimeException("graft-injected-crash")
        ()
      })

  /** Summary of the final state under `stateRoot` (per bucket, its
    * newest writer; base snapshot for never-touched buckets).
    * Output: (n_rows, total_cents).
    */
  private[graft] def endState(spark: SparkSession, stateRoot: String,
      baseDir: String): DataFrame =
    stateAt(spark, stateRoot, baseDir, 0 until NStateBuckets, Long.MaxValue)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("total_cents"))

  /** The declared STREAMING-EXECUTED CDC apply
    * (`orders_cdc_apply_streamed`):
    * tail the changelog, MERGE each chunk into the bucketed versioned
    * state, and summarize the final table alongside the per-action
    * counts the log itself carries. The oracle reconstructs the
    * composed end state relationally — a hash match proves the
    * incremental maintenance converged to exactly the batch MERGE's
    * answer. Output: (n_rows, n_updated, n_inserted, n_deleted,
    * total_cents).
    */
  def applyChangelogStreamed(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedChangelogDir(spark, dir)
    val base = baseStateDir(spark, dir)
    val stateRoot = OneShot.tempDir("graft-cdc-state")
    runApply(spark, staged, base, stateRoot, OneShot.ckptDir("graft-ckpt-cdc"))
    val counts = graft.sources.Ingest.mergeChangelogShowcase(spark, dir)
      .groupBy()
      .agg(sum(when(col("action") === "update", 1L).otherwise(0L))
          .as("n_updated"),
        sum(when(col("action") === "insert", 1L).otherwise(0L))
          .as("n_inserted"),
        sum(when(col("action") === "delete", 1L).otherwise(0L))
          .as("n_deleted"))
    endState(spark, stateRoot, base).crossJoin(broadcast(counts))
      .select(col("n_rows"), col("n_updated"), col("n_inserted"),
        col("n_deleted"), col("total_cents"))
  }

  // ------------------------------------------------------------------
  // State COMPACTION — the transaction-log checkpoint of this
  // in-miniature lakehouse. The apply loop accumulates one v=<id>
  // directory per micro-batch; as-of resolution walks that list per
  // bucket. Unbounded, that walk (and the base+delta read fan-in) grows
  // with stream lifetime — real systems fold the log into a checkpoint
  // (Delta checkpoints, Hudi compaction, Iceberg snapshot expiry).
  // compactState is that fold: resolve every bucket to its newest
  // writer, rewrite ONE full bucketed snapshot, and (optionally) drop
  // the folded version directories. The compacted dir then serves as
  // the new base: versions written after it resolve in front of it
  // exactly as before. Crash-safe by construction: the fold writes to
  // its own directory and deletes folded versions only after the write
  // commits; a re-run is idempotent (same resolution inputs -> same
  // snapshot).
  // ------------------------------------------------------------------

  /** Fold all version directories under `stateRoot` into one bucketed
    * snapshot (every state bucket resolved to its newest writer, base
    * fallback) written beside them, returning (compactedDir, the folded
    * version ids ascending). When `removeFolded`, the folded `v=<id>`
    * directories are deleted after the snapshot commits — subsequent
    * [[stateAt]] reads with the compacted dir as `baseDir` resolve
    * identically (CdcCompactSpec pins byte-level equivalence).
    */
  private[graft] def compactState(spark: SparkSession, stateRoot: String,
      baseDir: String, removeFolded: Boolean = false): (String, Seq[Long]) = {
    val root = new java.io.File(stateRoot)
    val folded = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong).sorted.toSeq
    val out = s"$stateRoot/compact-v=${folded.lastOption.getOrElse(-1L)}"
    stateAt(spark, stateRoot, baseDir, 0 until NStateBuckets, Long.MaxValue)
      .withColumn("bucket", pmod(col("o_orderkey"), lit(NStateBuckets)))
      .write.partitionBy("bucket").mode("overwrite").parquet(out)
    if (removeFolded) folded.foreach { v =>
      val dir = java.nio.file.Paths.get(s"$stateRoot/v=$v")
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    (out, folded)
  }

  /** The fully-applied versioned state for this dataset — the apply
    * loop run once and memoized (a staging artifact like the chunked
    * changelog; charged to `bench_build_cdc_stage`), so consumers that
    * need "the state after the stream" (the compaction row) measure
    * their own work, not a re-run of the stream. The DECLARED apply row
    * deliberately does not use this: it re-executes the stream per
    * invocation because the stream IS what it declares.
    */
  private def appliedStateDirs(spark: SparkSession,
      dir: String): (String, String) =
    graft.IndexCache.getOrBuild(spark,
        "orders-cdc-applied", dir, NStateBuckets) {
      val staged = stagedChangelogDir(spark, dir)
      val base = baseStateDir(spark, dir)
      val stateRoot = OneShot.tempDir("graft-cdc-applied")
      runApply(spark, staged, base, stateRoot,
        OneShot.ckptDir("graft-ckpt-cdc-applied"))
      (stateRoot, base)
    }

  /** The declared compaction row (`orders_cdc_compacted`): fold the
    * applied versioned state into one snapshot and summarize the
    * TABLE READ BACK FROM THAT SNAPSHOT ALONE — a hash match against
    * the relational reconstruction proves the fold lost nothing. Also
    * carries the structural facts: how many version directories the
    * fold absorbed (= changelog chunks that touched state) and how many
    * buckets the snapshot holds (= occupied `pmod(key, 16)` cells).
    * Output: (n_rows, n_buckets, n_versions_folded, total_cents).
    */
  def compactedStateSummary(spark: SparkSession, dir: String): DataFrame = {
    val (stateRoot, base) = appliedStateDirs(spark, dir)
    val (compactDir, folded) = compactState(spark, stateRoot, base)
    spark.read.parquet(compactDir)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("bucket")).as("n_buckets"),
        sum(col("cents")).as("total_cents"))
      .select(col("n_rows"), col("n_buckets"),
        lit(folded.size.toLong).as("n_versions_folded"), col("total_cents"))
  }

  // ------------------------------------------------------------------
  // TIME TRAVEL — the read-side payoff of keeping the version chain.
  // Every v=<id> directory the apply loop leaves behind is a queryable
  // snapshot boundary: "the table as of version v" is, per bucket, the
  // newest writer with version <= v (base fallback) — exactly the
  // stateAt resolver the apply loop itself uses to find its inputs.
  // Reading as-of v therefore costs the same as reading the live
  // table (one directory per bucket); no log replay, no copy. The
  // declared row audits the WHOLE timeline: one summary per version
  // boundary, each read back purely from the layout.
  //
  // The audited chain is built by the deterministic batch driver below
  // (chunk c applied as version c), NOT the stream: the file source
  // commits chunks in discovery order, which the apply row is
  // deliberately insensitive to (disjoint keys), but as-of reads ARE
  // order-sensitive, so the declared timeline pins chunk->version
  // explicitly. Layout and resolver are byte-identical to the
  // stream-built chain (CdcBucketSpec pins the layout contract).
  // ------------------------------------------------------------------

  /** Version count of the deterministic chain — version v applies the
    * pmod(abs(o_orderkey) div 500, NLogChunks) == v slice. (Chunking by
    * pmod(key, 4) like the stream staging would leave versions 1-2
    * empty: the %500/%700 showcase keys are all ≡ 0 mod 4, and an
    * insert clone -(k+1) is ≡ 3. The div-500 digit spreads actions
    * across every version, so each boundary summarizes differently and
    * the as-of audit is non-degenerate.)
    */
  private[graft] val NLogChunks = 4

  /** The chain's chunk id for a changelog key: (|key| div 500) mod 4.
    * |key| stays far below 2^53, so the double floor-divide is exact.
    */
  private def chainChunk(key: org.apache.spark.sql.Column) =
    pmod(floor(abs(key) / lit(500L)).cast("long"), lit(NLogChunks))

  /** The deterministic version chain: chunk c MERGEd as version c via
    * the same batch body the stream uses. Memoized per dataset; charged
    * to `bench_build_cdc_stage`. Returns (stateRoot, bucketedBaseDir).
    */
  private def versionChainDirs(spark: SparkSession,
      dir: String): (String, String) =
    graft.IndexCache.getOrBuild(spark,
        "orders-cdc-chain", dir, NStateBuckets, NLogChunks) {
      val base = baseStateDir(spark, dir)
      val stateRoot = OneShot.tempDir("graft-cdc-chain")
      val log = graft.sources.Ingest.mergeChangelogShowcase(spark, dir)
        .localCheckpoint(true)
      (0 until NLogChunks).foreach { c =>
        mergeSliceIntoState(
          log.filter(chainChunk(col("o_orderkey")) === c),
          c.toLong, stateRoot, base)
      }
      (stateRoot, base)
    }

  /** The declared TIME-TRAVEL row (`orders_cdc_timetravel`): read the
    * table as of EVERY version boundary of the deterministic chain —
    * version -1 is the base snapshot, version v applies chunks 0..v —
    * and summarize each read. The oracle reconstructs each boundary
    * relationally (actions whose key-chunk <= v applied); a hash match
    * proves the layout + resolver implement as-of semantics exactly,
    * across the whole timeline at once.
    * Output: (version, n_rows, total_cents) x (NLogChunks + 1).
    */
  def timeTravelSummary(spark: SparkSession, dir: String): DataFrame = {
    val (stateRoot, base) = versionChainDirs(spark, dir)
    (-1 until NLogChunks).map { v =>
      stateAt(spark, stateRoot, base, 0 until NStateBuckets, v + 1L)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_cents"))
    }.reduce(_ unionByName _)
  }

  /** SNAPSHOT EXPIRY — the retention half of keeping a version chain
    * (Iceberg's expire_snapshots / Delta's VACUUM horizon): fold the
    * base and every version BELOW `keepFrom` into a new bucketed base
    * snapshot written beside the chain, then drop those version dirs.
    * As-of reads at or above the horizon resolve exactly as before
    * (per bucket, newest keeper <= v, new-base fallback); history
    * below it is deliberately gone — that is what retention means.
    * Crash-safe like compactState: the new base commits to its own
    * directory before any deletion, and the COMPLETED new-base write
    * (its parquet `_SUCCESS`) is the commit point — a re-run after a
    * crash mid-deletion skips the rebuild (the fold's inputs may be
    * partially deleted by then) and only resumes the deletion sweep.
    * Returns (newBaseDir, expired version ids ascending).
    */
  private[graft] def expireSnapshots(spark: SparkSession, stateRoot: String,
      baseDir: String, keepFrom: Long): (String, Seq[Long]) = {
    val newBase = s"$stateRoot/expired-base-v=${keepFrom - 1}"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$newBase/_SUCCESS")))
      stateAt(spark, stateRoot, baseDir, 0 until NStateBuckets, keepFrom)
        .withColumn("bucket", pmod(col("o_orderkey"), lit(NStateBuckets)))
        .write.partitionBy("bucket").mode("overwrite").parquet(newBase)
    // The expired-id list is committed to a manifest BEFORE any
    // deletion starts (r13 advice): enumerating surviving v= dirs on a
    // crash-resume mid-sweep would report a smaller list per attempt,
    // and callers pin the expired ids. Between the fold's _SUCCESS and
    // the manifest no dir has been deleted yet, so the (re-)enumeration
    // there is still complete; once the manifest exists it is the
    // attempt-invariant answer and only the deletion sweep resumes.
    val manifest = java.nio.file.Paths.get(s"$newBase/_EXPIRED_VERSIONS")
    val expired: Seq[Long] =
      if (java.nio.file.Files.exists(manifest))
        java.nio.file.Files.readString(manifest).split("\\s+")
          .filter(_.nonEmpty).map(_.toLong).toSeq
      else {
        val ids = Option(new java.io.File(stateRoot).listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("v="))
          .map(_.getName.stripPrefix("v=").toLong).filter(_ < keepFrom)
          .sorted.toSeq
        java.nio.file.Files.writeString(manifest, ids.mkString("\n"))
        ids
      }
    expired.foreach(v => rmTree(s"$stateRoot/v=$v"))
    (newBase, expired)
  }

  /** The declared SNAPSHOT-EXPIRY row (`orders_cdc_expired`): expire
    * the deterministic chain below version 2 ON A COPY (the memoized
    * chain stays pristine for the timetravel row), then read back
    * EVERY RETAINED boundary — the horizon boundary (v=1, now served
    * by the folded base alone) plus the live versions above it. A
    * hash match against the same relational reconstruction as the
    * timetravel rows proves retention lost nothing a reader is still
    * entitled to. One-time staging memoized per dataset; the declared
    * row measures the retained-boundary reads.
    * Output: (version, n_rows, total_cents, n_versions_expired) x 3.
    */
  def expiredChainSummary(spark: SparkSession, dir: String): DataFrame = {
    val keepFrom = 2L
    val (root, base, nExpired) = graft.IndexCache.getOrBuild(spark,
        "orders-cdc-expired", dir, NLogChunks, keepFrom) {
      val (chainRoot, chainBase) = versionChainDirs(spark, dir)
      val root = OneShot.tempDir("graft-cdc-expire")
      copyTree(chainRoot, root)
      val (newBase, expired) = expireSnapshots(spark, root, chainBase,
        keepFrom)
      (root, newBase, expired.size.toLong)
    }
    (keepFrom - 1 until NLogChunks).map { v =>
      stateAt(spark, root, base, 0 until NStateBuckets, v + 1L)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_cents"), lit(nExpired).as("n_versions_expired"))
    }.reduce(_ unionByName _)
  }

  // ------------------------------------------------------------------
  // MERGE-ON-READ — the other half of the write-amplification tradeoff.
  // The apply loop above is COPY-ON-WRITE: a change rewrites its whole
  // bucket (read-optimal, write cost ~ bucket size). Merge-on-read
  // instead writes only the change itself as sidecar files beside the
  // untouched base — an equality-delete file (just the superseded keys,
  // the key-based form of a deletion vector) and an insert-delta file
  // (the new row images) — and every reader applies them on the fly:
  //   read = base ANTI-JOIN deletes UNION ALL inserts.
  // A delete of 50 keys in a 100 TB table writes 50 ids and rewrites
  // NOTHING; the bill moves to read amplification (every scan carries
  // the anti-join) until a compaction folds the sidecars down. Both
  // sidecars are hive-partitioned by the SAME pmod bucket as the base,
  // so at scale the anti-join is bucket-local (zero shuffle of the big
  // side); at these sf sizes Spark simply broadcasts the key sidecar.
  // The declared row reads the MOR table and must hash-match the SAME
  // end-state oracle family as the copy-on-write path — same answer,
  // opposite physical tradeoff, both under the gate.
  // ------------------------------------------------------------------

  /** The MOR table's layout: the untouched bucketed base plus the two
    * sidecar directories, rendered once per dataset (charged to
    * `bench_build_cdc_stage`). Returns (baseDir, deletesDir, insertsDir).
    */
  private def morSidecarDirs(spark: SparkSession,
      dir: String): (String, String, String) =
    graft.IndexCache.getOrBuild(spark, "orders-cdc-mor", dir, NStateBuckets) {
      val base = baseStateDir(spark, dir)
      val root = OneShot.tempDir("graft-cdc-mor")
      val log = graft.sources.Ingest.mergeChangelogShowcase(spark, dir)
        .localCheckpoint(true)
      concurrently(
        // equality-delete sidecar: every key whose base row is
        // superseded (an update's old image) or removed (a delete) —
        // keys only, never row data
        () => log.filter(col("action").isin("update", "delete"))
          .select(col("o_orderkey"),
            pmod(col("o_orderkey"), lit(NStateBuckets)).as("bucket"))
          .write.partitionBy("bucket").mode("overwrite")
          .parquet(s"$root/deletes"),
        // insert-delta sidecar: the new row images (updates' new values
        // ride as delete-old + insert-new, the canonical MOR upsert)
        () => log.filter(col("action").isin("update", "insert"))
          .select(col("o_orderkey"), col("new_cents").as("cents"),
            pmod(col("o_orderkey"), lit(NStateBuckets)).as("bucket"))
          .write.partitionBy("bucket").mode("overwrite")
          .parquet(s"$root/inserts"))
      (base, s"$root/deletes", s"$root/inserts")
    }

  /** The merge-on-read resolution: base minus superseded keys plus the
    * insert deltas. Both sidecars share the base's bucket partitioning,
    * so the anti-join co-locates per bucket at scale. No hard
    * `broadcast()` hint on the key sidecar (r11 advice): at these sf
    * sizes AQE picks a broadcast anti-join on its own from the runtime
    * size, while a 100 TB table's large delete sidecar falls back to
    * the bucket-local sort-merge form instead of being forced through
    * the driver.
    */
  private def morRead(spark: SparkSession, baseDir: String,
      deletesDir: String, insertsDir: String): DataFrame = {
    val base = spark.read.parquet(baseDir)
      .select(col("o_orderkey"), col("cents"))
    val dels = spark.read.parquet(deletesDir).select(col("o_orderkey"))
    val ins = spark.read.parquet(insertsDir)
      .select(col("o_orderkey"), col("cents"))
    base.join(dels, Seq("o_orderkey"), "left_anti")
      .unionByName(ins)
  }

  /** The sidecar-size facts relation (1 row): delete keys + insert row
    * images — the TOTAL write volume the MOR layout paid for the whole
    * changelog.
    */
  private def morFacts(spark: SparkSession, deletesDir: String,
      insertsDir: String): DataFrame =
    spark.read.parquet(deletesDir)
      .agg(count(lit(1)).as("n_delete_keys"))
      .crossJoin(spark.read.parquet(insertsDir)
        .agg(count(lit(1)).as("n_insert_rows")))

  /** Summarize a resolved MOR table beside its sidecar facts — the
    * shared tail of all three declared MOR rows (one definition, one
    * oracle). Output: (n_rows, n_delete_keys, n_insert_rows,
    * total_cents).
    */
  private def morSummarize(resolved: DataFrame,
      facts: DataFrame): DataFrame =
    resolved
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .crossJoin(broadcast(facts))
      .select(col("n_rows"), col("n_delete_keys"), col("n_insert_rows"),
        col("total_cents"))

  /** The declared MERGE-ON-READ row (`orders_merge_on_read`): resolve
    * the MOR table and summarize it beside its structural facts. The
    * (n_rows, total_cents) pair must equal the copy-on-write apply
    * row's — the same composed end state through the opposite physical
    * strategy.
    */
  def mergeOnReadSummary(spark: SparkSession, dir: String): DataFrame = {
    val (base, dels, ins) = morSidecarDirs(spark, dir)
    morSummarize(morRead(spark, base, dels, ins), morFacts(spark, dels, ins))
  }

  /** The declared MOR MAJOR COMPACTION row (`orders_mor_compacted`):
    * fold the sidecars into a clean bucketed snapshot — the write the
    * merge-on-read strategy DEFERS, paid once instead of per change —
    * and summarize the table read back FROM THE SNAPSHOT ALONE beside
    * the folded sidecar sizes. A hash match against the same composed
    * end-state oracle proves the fold lost nothing; after it, readers
    * drop the anti-join until new sidecars accumulate (the write/read
    * amplification trade cycled back). Real lakehouses alternate
    * exactly this way: cheap MOR commits, periodic major compaction.
    * Output: (n_rows, n_delete_keys, n_insert_rows, total_cents).
    */
  def morCompactedSummary(spark: SparkSession, dir: String): DataFrame = {
    val (base, dels, ins) = morSidecarDirs(spark, dir)
    // the deferred O(table) fold is a one-time staging memoized like
    // versionChainDirs (r11 advice — each verify/bench construction
    // was re-paying the full snapshot rewrite); its cost is charged to
    // `bench_build_cdc_stage` via prestage, and the declared row
    // measures the read-back proof that the fold lost nothing
    val out = graft.IndexCache.getOrBuild(spark,
        "orders-mor-compacted", dir, NStateBuckets) {
      val o = OneShot.tempDir("graft-mor-compact")
      morRead(spark, base, dels, ins)
        .withColumn("bucket", pmod(col("o_orderkey"), lit(NStateBuckets)))
        .write.partitionBy("bucket").mode("overwrite").parquet(o)
      o
    }
    morSummarize(spark.read.parquet(out), morFacts(spark, dels, ins))
  }

  // ------------------------------------------------------------------
  // MOR VERSION CHAIN — time travel and minor compaction over the
  // sidecar log. The streamed MOR apply leaves one sidecar pair per
  // micro-batch (`deletes/batch=<id>`, `inserts/batch=<id>`); that
  // batch axis IS a version chain: "the table as of batch v" resolves
  // base + the sidecar PREFIX <= v, with equality-deletes masking only
  // rows whose sequence number is strictly older (an Iceberg
  // sequence-number read: base rows carry seq -1, an insert from batch
  // b carries seq b, a delete from batch b masks keys with seq < b).
  // Between as-of reads nothing is copied — the same sidecar files
  // serve every boundary, and partition pruning on `batch` keeps an
  // as-of read from even listing later sidecars. Minor compaction is
  // the tier every production MOR table runs between major
  // compactions: fold the K OLDEST sidecar batches into one
  // consolidated pair (internal delete-masking pre-applied), leave the
  // base and the newer sidecars untouched — read-side fan-in drops
  // from O(batches) to O(1 + recent) while the write stays
  // O(folded sidecar rows), never O(table).
  // ------------------------------------------------------------------

  /** The deterministic MOR version chain: chunk c's actions land as
    * sidecar pair `batch=c` via the same div-500 chunking as the
    * copy-on-write chain (so every version carries actions and each
    * boundary summarizes differently). Memoized per dataset; charged
    * to `bench_build_cdc_stage`. Returns (bucketedBaseDir, morRoot).
    */
  private def morChainDirs(spark: SparkSession,
      dir: String): (String, String) =
    graft.IndexCache.getOrBuild(spark, "orders-mor-chain", dir, NLogChunks) {
      val base = baseStateDir(spark, dir)
      val root = OneShot.tempDir("graft-mor-chain")
      val log = graft.sources.Ingest.mergeChangelogShowcase(spark, dir)
        .localCheckpoint(true)
      // the 8 per-chunk sidecar writes are independent single-file
      // jobs over the checkpointed log — overlap them (§2.6)
      concurrently((0 until NLogChunks).flatMap { c =>
        val slice = log.filter(chainChunk(col("o_orderkey")) === c)
        Seq[() => Unit](
          () => slice.filter(col("action").isin("update", "delete"))
            .select(col("o_orderkey"))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/deletes/batch=$c"),
          () => slice.filter(col("action").isin("update", "insert"))
            .select(col("o_orderkey"), col("new_cents").as("cents"))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/inserts/batch=$c"))
      }: _*)
      (base, root)
    }

  /** Sequence-aware MOR resolution as of batch `v` (v = -1 reads the
    * untouched base): rows = base(seq -1) ∪ inserts(batch <= v, seq =
    * batch); a row survives unless some delete key with a STRICTLY
    * newer sequence matches it. One anti-join, no per-version copies;
    * the `batch <= v` filters are partition-pruned off the sidecar
    * layout. With the showcase changelog's disjoint keys this reduces
    * to prefix-union-minus-prefix, but the resolver implements the
    * general contract (an insert later deleted IS masked).
    */
  private[graft] def morResolveAsOf(spark: SparkSession, baseDir: String,
      morRoot: String, v: Long): DataFrame = {
    val base = spark.read.parquet(baseDir)
      .select(col("o_orderkey"), col("cents"), lit(-1L).as("seq"))
    if (v < 0) return base.select(col("o_orderkey"), col("cents"))
    val ins = spark.read.parquet(s"$morRoot/inserts")
      .filter(col("batch") <= v)
      .select(col("o_orderkey"), col("cents"),
        col("batch").cast("long").as("seq"))
    val dels = spark.read.parquet(s"$morRoot/deletes")
      .filter(col("batch") <= v)
      .select(col("o_orderkey").as("dk"),
        col("batch").cast("long").as("dseq"))
    base.unionByName(ins)
      .join(dels, col("o_orderkey") === col("dk")
        && col("dseq") > col("seq"), "left_anti")
      .select(col("o_orderkey"), col("cents"))
  }

  /** The declared MOR TIME-TRAVEL row (`orders_mor_timetravel`): read
    * the merge-on-read table as of EVERY version boundary of the
    * deterministic sidecar chain and summarize each read — the exact
    * parity row to `orders_cdc_timetravel`, same oracle: a hash match
    * proves the sidecar prefix resolution implements as-of semantics
    * identically to the copy-on-write version chain (and to the
    * relational reconstruction), with zero data rewritten between
    * boundaries. Output: (version, n_rows, total_cents) x
    * (NLogChunks + 1).
    */
  def morTimeTravelSummary(spark: SparkSession, dir: String): DataFrame = {
    val (base, root) = morChainDirs(spark, dir)
    (-1 until NLogChunks).map { v =>
      morResolveAsOf(spark, base, root, v.toLong)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_cents"))
    }.reduce(_ unionByName _)
  }

  /** Sorted batch ids present under a sidecar dir (`batch=<id>` hive
    * names) — driver-side O(|batches|) metadata listing.
    */
  private def batchIds(dirPath: String): Seq[Long] =
    Option(new java.io.File(dirPath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=").toLong).sorted.toSeq

  /** Run `f` over a closed-on-exit Files.walk stream — every walk in
    * this object rides through here (an unclosed walk holds directory
    * handles until GC, and the staging/compaction paths run repeatedly
    * in long-lived bench JVMs).
    */
  private def walking[T](p: java.nio.file.Path)(
      f: java.util.stream.Stream[java.nio.file.Path] => T): T = {
    val s = java.nio.file.Files.walk(p)
    try f(s) finally s.close()
  }

  /** Recursive file copy of a sidecar layout — the minor-compaction
    * row folds a COPY so the memoized chain stays pristine for the
    * time-travel row.
    */
  private def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    walking(s)(_.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    })
  }

  private def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      walking(p)(_.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f)))
  }

  /** The current minor-compaction GENERATION, resolved through the
    * `MINOR_CURRENT` pointer file — the `_last_checkpoint` pattern: a
    * generation directory is immutable once written, and the pointer
    * swap (one atomic file move) is the only commit. Returns
    * (generationDir, foldedHighWaterBatchId).
    */
  private[graft] def currentMinor(morRoot: String): Option[(String, Long)] = {
    val ptr = java.nio.file.Paths.get(s"$morRoot/MINOR_CURRENT")
    if (!java.nio.file.Files.exists(ptr)) None
    else {
      val gen = new String(java.nio.file.Files.readAllBytes(ptr)).trim
      val dir = s"$morRoot/$gen"
      val upto = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/UPTO"))).trim.toLong
      Some((dir, upto))
    }
  }

  /** Generation index of a `minor-g<k>` directory, parsed from its
    * BASENAME (the name stored in the pointer) — never from the full
    * path, which misparses when a caller-supplied morRoot itself
    * contains the substring "minor-g" (r12 advice).
    */
  private def genIndex(genDir: String): Long =
    new java.io.File(genDir).getName.stripPrefix("minor-g").toLong

  /** MINOR compaction, REPEATABLE: fold the `foldK` OLDEST live
    * sidecar batches — absorbing the previous minor generation, if
    * any — into a new immutable generation dir, and commit it by
    * atomically swapping the `MINOR_CURRENT` pointer. The base and
    * every newer sidecar stay untouched; repeated folds keep read-side
    * fan-in bounded over an unbounded stream (the production MOR
    * cycle between major compactions). Returns the new folded
    * high-water batch id (`upto`).
    *
    * Crash discipline (proven by CrashRecoverySpec): the new
    * generation is fully written under `minor-staging/`, renamed to
    * its `minor-g<k>/` name, and only then referenced by the pointer
    * swap — the single commit point. A crash before the swap leaves
    * readers on the previous generation (an unreferenced gen dir is
    * garbage, collected at the next call); a crash after it leaves
    * the retired generation and folded `batch=` dirs on disk, but
    * readers resolve through the pointer and filter `batch > upto`,
    * so they are dead files — the next call's entry sweep finishes
    * the deletions. `crashAfter` injects the spec's failures at the
    * two windows.
    */
  private[graft] def morMinorCompact(spark: SparkSession, morRoot: String,
      foldK: Int, crashAfter: String = ""): Long = {
    val staging = s"$morRoot/minor-staging"
    val cur = currentMinor(morRoot)
    val curUpto = cur.map(_._2).getOrElse(-1L)
    val curGenIdx = cur.map(c => genIndex(c._1)).getOrElse(-1L)
    // entry sweep: garbage from crashed attempts — partial staging,
    // unreferenced generation dirs, folded batch dirs the pointer has
    // already moved past
    rmTree(staging)
    Option(new java.io.File(morRoot).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("minor-g")
        && f.getName != s"minor-g$curGenIdx")
      .foreach(f => rmTree(f.getPath))
    Seq("deletes", "inserts").foreach { side =>
      batchIds(s"$morRoot/$side").filter(_ <= curUpto)
        .foreach(b => rmTree(s"$morRoot/$side/batch=$b"))
    }
    val live = batchIds(s"$morRoot/deletes")
      .union(batchIds(s"$morRoot/inserts"))
      .distinct.sorted.filter(_ > curUpto)
    if (live.isEmpty) return curUpto
    val upto = live.take(foldK).max
    // prior generation's consolidated sides read at seq = curUpto
    def genSide(side: String): Option[DataFrame] =
      cur.map { case (dir, _) => spark.read.parquet(s"$dir/$side") }
    val batchDels = spark.read.parquet(s"$morRoot/deletes")
      .filter(col("batch") > curUpto && col("batch") <= upto)
      .select(col("o_orderkey"), col("batch").cast("long").as("dseq"))
    val allDelKeys = (genSide("deletes").map(_.select(col("o_orderkey")))
      .toSeq :+ batchDels.select(col("o_orderkey")))
      .reduce(_ unionByName _).distinct()
    val rows = (genSide("inserts")
      .map(_.select(col("o_orderkey"), col("cents"),
        lit(curUpto).as("seq"))).toSeq :+
      spark.read.parquet(s"$morRoot/inserts")
        .filter(col("batch") > curUpto && col("batch") <= upto)
        .select(col("o_orderkey"), col("cents"),
          col("batch").cast("long").as("seq")))
      .reduce(_ unionByName _)
    // consolidated inserts: rows that survive STRICTLY-newer deletes
    // inside the folded range (prior-gen deletes read at curUpto, so
    // they never re-mask the prior gen's own survivors)
    // consolidated sides are hash-bucketed like the BASE (per-batch
    // sidecars are |batch|-sized and stay single-file, but a
    // consolidated sidecar grows with table churn — at 100 TB a
    // coalesce(1) here would be a single-task write, and bucketing
    // keeps the read-side anti-join co-located per bucket)
    concurrently(
      () => rows.join(batchDels.withColumnRenamed("o_orderkey", "dk"),
          col("o_orderkey") === col("dk") && col("dseq") > col("seq"),
          "left_anti")
        .select(col("o_orderkey"), col("cents"))
        .withColumn("bucket", pmod(col("o_orderkey"), lit(NStateBuckets)))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$staging/inserts"),
      // consolidated deletes: every folded delete key (still masks base)
      () => allDelKeys
        .withColumn("bucket", pmod(col("o_orderkey"), lit(NStateBuckets)))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$staging/deletes"))
    // a side whose consolidated relation is EMPTY gets no part files
    // from partitionBy — materialize the emptiness (one zero-row
    // footer) so readers never hit a schema-less directory
    Seq("inserts" -> StructType(Seq(StructField("o_orderkey", LongType),
        StructField("cents", LongType))),
      "deletes" -> StructType(Seq(StructField("o_orderkey", LongType))))
      .foreach { case (side, schema) =>
        val dir = java.nio.file.Paths.get(s"$staging/$side")
        val hasPart =
          walking(dir)(_.anyMatch(p => p.toString.endsWith(".parquet")))
        if (!hasPart)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
            .write.mode("overwrite").parquet(dir.toString)
      }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$staging/UPTO"),
      upto.toString.getBytes)
    val nextGen = s"minor-g${curGenIdx + 1}"
    rmTree(s"$morRoot/$nextGen")
    java.nio.file.Files.move(java.nio.file.Paths.get(staging),
      java.nio.file.Paths.get(s"$morRoot/$nextGen"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    if (crashAfter == "staged")
      throw new RuntimeException("graft-injected-crash")
    // THE commit: atomic pointer swap
    val tmpPtr = java.nio.file.Paths.get(s"$morRoot/MINOR_CURRENT.tmp")
    java.nio.file.Files.write(tmpPtr, nextGen.getBytes)
    java.nio.file.Files.move(tmpPtr,
      java.nio.file.Paths.get(s"$morRoot/MINOR_CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    if (crashAfter == "committed")
      throw new RuntimeException("graft-injected-crash")
    // post-commit cleanup (a crash here leaves only dead files)
    cur.foreach { case (dir, _) => rmTree(dir) }
    Seq("deletes", "inserts").foreach { side =>
      batchIds(s"$morRoot/$side").filter(_ <= upto)
        .foreach(b => rmTree(s"$morRoot/$side/batch=$b"))
    }
    upto
  }

  /** MOR resolution over a possibly-minor-compacted layout, as of
    * batch `asOf` (default HEAD): if the `MINOR_CURRENT` pointer
    * exists, rows = base(-1) ∪ consolidated inserts(seq upto) ∪
    * remaining inserts(upto < batch <= asOf), masked by consolidated
    * deletes(seq upto) ∪ remaining deletes in the same window —
    * readers ALWAYS resolve through the pointer and filter
    * `batch > upto`, which is what makes the post-commit crash window
    * safe (retired generations and undeleted folded dirs are dead
    * files). Boundaries BELOW the fold high-water are no longer
    * servable (the fold pre-applied their internal masking — the same
    * contract as snapshot expiry's horizon), so `asOf < upto` throws
    * rather than silently answering from the wrong state. Without the
    * pointer this is [[morResolveAsOf]].
    */
  private[graft] def morMinorRead(spark: SparkSession, baseDir: String,
      morRoot: String, asOf: Long = Long.MaxValue): DataFrame = {
    val cur = currentMinor(morRoot)
    if (cur.isEmpty)
      return morResolveAsOf(spark, baseDir, morRoot, asOf)
    val (minorDir, upto) = cur.get
    require(asOf >= upto,
      s"as-of $asOf predates the minor-fold high-water $upto — " +
        "folded boundaries are not retained")
    val base = spark.read.parquet(baseDir)
      .select(col("o_orderkey"), col("cents"), lit(-1L).as("seq"))
    val minIns = spark.read.parquet(s"$minorDir/inserts")
      .select(col("o_orderkey"), col("cents"), lit(upto).as("seq"))
    val minDels = spark.read.parquet(s"$minorDir/deletes")
      .select(col("o_orderkey").as("dk"), lit(upto).as("dseq"))
    def remaining(side: String, f: DataFrame => DataFrame): Option[DataFrame] =
      if (batchIds(s"$morRoot/$side").exists(b => b > upto && b <= asOf))
        Some(f(spark.read.parquet(s"$morRoot/$side")
          .filter(col("batch") > upto && col("batch") <= asOf)))
      else None
    val rows = Seq(Some(base), Some(minIns),
      remaining("inserts", d => d.select(col("o_orderkey"), col("cents"),
        col("batch").cast("long").as("seq")))).flatten.reduce(_ unionByName _)
    val dels = Seq(Some(minDels),
      remaining("deletes", d => d.select(col("o_orderkey").as("dk"),
        col("batch").cast("long").as("dseq")))).flatten.reduce(_ unionByName _)
    rows.join(dels, col("o_orderkey") === col("dk")
        && col("dseq") > col("seq"), "left_anti")
      .select(col("o_orderkey"), col("cents"))
  }

  /** The declared MOR MINOR-COMPACTION row
    * (`orders_mor_minor_compacted`): fold the 3 oldest sidecar batches
    * of a COPY of the deterministic chain and summarize the table read
    * through the compacted layout beside the structural proof — the
    * sidecar fan-in before (8 `batch=` dirs) and after (2 consolidated
    * + 2 remaining = 4). The end state must hash-match the same
    * composed-state oracle family as every other CDC/MOR row: the
    * fold lost nothing, the base was never touched, and readers
    * dropped half their sidecar fan-in. The fold itself is a one-time
    * staging memoized per dataset (charged to `bench_build_cdc_stage`);
    * the declared row measures the compacted READ.
    * Output: (n_rows, n_sidecars_before, n_sidecars_after,
    * total_cents).
    */
  def morMinorCompactedSummary(spark: SparkSession, dir: String): DataFrame = {
    val (base, root, nBefore, nAfter, _) = morMinorLayout(spark, dir)
    morMinorRead(spark, base, root)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .select(col("n_rows"), lit(nBefore).as("n_sidecars_before"),
        lit(nAfter).as("n_sidecars_after"), col("total_cents"))
  }

  /** The minor-compacted COPY of the deterministic MOR chain — one
    * fold of the 3 oldest sidecar batches, memoized per dataset and
    * shared by the minor-compaction row and the folded time-travel
    * row (charged to `bench_build_cdc_stage`). Returns (baseDir,
    * foldedRoot, sidecarsBefore, sidecarsAfter, foldHighWater).
    */
  private def morMinorLayout(spark: SparkSession,
      dir: String): (String, String, Long, Long, Long) =
    graft.IndexCache.getOrBuild(spark, "orders-mor-minor", dir, NLogChunks) {
      val (baseDir, chainRoot) = morChainDirs(spark, dir)
      val root = OneShot.tempDir("graft-mor-minor")
      copyTree(chainRoot, root)
      val before =
        batchIds(s"$root/deletes").size + batchIds(s"$root/inserts").size
      val upto = morMinorCompact(spark, root, foldK = 3)
      val after = Seq("deletes", "inserts")
        .map(s => batchIds(s"$root/$s").count(_ > upto)).sum + 2
      (baseDir, root, before.toLong, after.toLong, upto)
    }

  /** The declared FOLDED MOR TIME-TRAVEL row
    * (`orders_mor_timetravel_folded`): read every RETAINED version
    * boundary (>= the fold high-water) THROUGH the minor-compacted
    * layout — base ∪ consolidated generation ∪ the still-live sidecar
    * prefix <= v — the as-of guarantee users actually rely on after a
    * compaction has folded part of the chain. Hash-matches the same
    * relational boundary reconstruction as the pristine-chain
    * time-travel row restricted to the retained window: the fold
    * changed the physical layout, not one answer a reader is still
    * entitled to. (`orders_mor_timetravel` keeps covering the
    * pristine chain; boundaries BELOW the high-water are gone by
    * design — the retention contract, spec-pinned by CdcCompactSpec.)
    * Output: (version, n_rows, total_cents, fold_upto) x
    * (NLogChunks - fold_upto).
    */
  def morFoldedTimeTravelSummary(spark: SparkSession,
      dir: String): DataFrame = {
    val (base, root, _, _, upto) = morMinorLayout(spark, dir)
    (upto until NLogChunks).map { v =>
      morMinorRead(spark, base, root, v)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(v).as("version"), col("n_rows"), col("total_cents"),
          lit(upto).as("fold_upto"))
    }.reduce(_ unionByName _)
  }

  /** Run independent write thunks concurrently (guide §2.6): each is
    * a small job whose wall-clock is dominated by fixed per-job driver
    * costs (planning + commit protocol), so overlapping the two sidecar
    * writes of a micro-batch nearly halves its latency. Inputs must be
    * independent jobs over an already-materialized slice
    * (localCheckpoint), so ordering cannot matter.
    */
  private[graft] def concurrently(thunks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, thunks.size))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      thunks.map(t => scala.concurrent.Future(t()))
        .foreach(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  /** Drive the STREAMING merge-on-read apply: tail `stagedDir` one
    * chunk per trigger; each micro-batch APPENDS its slice as sidecar
    * files — superseded keys under `deletes/batch=<id>`, new row images
    * under `inserts/batch=<id>` — and never touches the base or any
    * earlier sidecar. Per-trigger write volume is exactly |batch| rows:
    * the true O(changes) point of the CDC write-strategy spectrum
    * (the copy-on-write loop above pays bucket granularity). Crash
    * discipline: a replayed batch overwrites ITS OWN batch=<id> dirs —
    * idempotent by construction, no read-prev dependency at all.
    * Exposed for the crash spec.
    */
  private[graft] def runMorApply(spark: SparkSession, stagedDir: String,
      morRoot: String, ckpt: String, crashAt: Long = -1L,
      crashed: java.util.concurrent.atomic.AtomicBoolean = null): Unit = {
    tailChangelog(spark, stagedDir, ckpt, crashAt, crashed) { (batch, id) =>
      writeSidecars(batch.localCheckpoint(true), morRoot, id)
    }
  }

  /** One micro-batch's sidecar writes (see [[runMorApply]]). */
  private def writeSidecars(slice: DataFrame, morRoot: String,
      id: Long): Unit =
    concurrently(
      () => slice.filter(col("action").isin("update", "delete"))
        .select(col("o_orderkey"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$morRoot/deletes/batch=$id"),
      () => slice.filter(col("action").isin("update", "insert"))
        .select(col("o_orderkey"), col("new_cents").as("cents"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$morRoot/inserts/batch=$id"))

  /** The merge-on-read resolution over streamed sidecars (partition
    * discovery turns the batch=<id> dirs into one relation each).
    * Output: (n_rows, n_delete_keys, n_insert_rows, total_cents) —
    * the same summary, and the same oracle, as the batch MOR row.
    */
  private[graft] def morStreamedSummary(spark: SparkSession,
      baseDir: String, morRoot: String): DataFrame =
    morSummarize(
      morRead(spark, baseDir, s"$morRoot/deletes", s"$morRoot/inserts"),
      morFacts(spark, s"$morRoot/deletes", s"$morRoot/inserts"))

  /** The declared STREAMING merge-on-read row
    * (`orders_mor_apply_streamed`):
    * the changelog consumed incrementally with |batch|-row sidecar
    * appends per trigger, then resolved read-side. Hash-matches the
    * SAME oracle as the batch MOR row — the streaming sidecar appends
    * converge to exactly the composed end state.
    */
  def morApplyStreamed(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedChangelogDir(spark, dir)
    val base = baseStateDir(spark, dir)
    val morRoot = OneShot.tempDir("graft-cdc-mor-stream")
    runMorApply(spark, staged, morRoot, OneShot.ckptDir("graft-ckpt-mor"))
    morStreamedSummary(spark, base, morRoot)
  }

  /** Total on-disk bytes of the LIVE (unfolded) sidecar batches — the
    * size half of the auto-compaction policy. Driver-side metadata
    * walk, O(live files): the live set is what the policy bounds, so
    * the walk can never grow past maxLive batches' worth of files.
    */
  private[graft] def liveSidecarBytes(morRoot: String, curUpto: Long): Long =
    Seq("deletes", "inserts").map { side =>
      batchIds(s"$morRoot/$side").filter(_ > curUpto).map { b =>
        walking(java.nio.file.Paths.get(s"$morRoot/$side/batch=$b"))(
          _.filter(p => java.nio.file.Files.isRegularFile(p))
            .mapToLong(p => java.nio.file.Files.size(p)).sum)
      }.sum
    }.sum

  /** Drive the streamed MOR apply WITH AUTO minor compaction: each
    * micro-batch appends its |batch|-row sidecars, then — whenever the
    * live (unfolded) batch count exceeds `maxLive` OR the live
    * batches' total file size exceeds `maxLiveBytes` (production folds
    * trigger on bytes as well as counts: one huge batch costs readers
    * what many small ones do) — folds all live batches into the next
    * minor generation via [[morMinorCompact]]. This is the loop a
    * production MOR table actually runs: sidecar fan-in stays <=
    * maxLive + 2 consolidated files FOREVER, however long the stream
    * lives, while every write stays O(changes). Crash discipline
    * composes from the parts: a replayed batch overwrites its own
    * `batch=<id>` dirs (dead files if a fold already absorbed that id
    * — readers resolve through the pointer and filter `batch > upto`),
    * and the fold itself commits via the atomic pointer swap. Exposed
    * for the crash spec; both triggers share the one fold path.
    */
  private[graft] def runMorApplyAutoCompact(spark: SparkSession,
      stagedDir: String, morRoot: String, ckpt: String, maxLive: Int = 1,
      maxLiveBytes: Long = Long.MaxValue,
      crashAt: Long = -1L,
      crashed: java.util.concurrent.atomic.AtomicBoolean = null): Unit = {
    tailChangelog(spark, stagedDir, ckpt, crashAt, crashed) { (batch, id) =>
      writeSidecars(batch.localCheckpoint(true), morRoot, id)
      val curUpto = currentMinor(morRoot).map(_._2).getOrElse(-1L)
      val live = batchIds(s"$morRoot/deletes")
        .union(batchIds(s"$morRoot/inserts"))
        .distinct.count(_ > curUpto)
      if (live > maxLive
          || (live > 0 && liveSidecarBytes(morRoot, curUpto) > maxLiveBytes))
        morMinorCompact(spark, morRoot, foldK = live)
    }
  }

  /** The declared AUTO-COMPACTING streamed MOR row
    * (`orders_mor_autocompact_streamed`): the changelog consumed
    * incrementally with maxLive = 1, so the 4-chunk stream triggers
    * TWO minor folds (after batches 1 and 3 — generations g0 then g1,
    * g1 absorbing g0) and ends with ZERO live sidecar batches. The end
    * state must hash-match the same composed-state oracle family; the
    * structural columns pin the repeated-fold mechanics (fold count =
    * final generation index + 1, live batches = 0) — bounded read
    * fan-in over an unbounded stream, the claim a one-shot fold can't
    * make. Output: (n_rows, n_folds, n_live_batches, total_cents).
    */
  def morAutoCompactStreamed(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedChangelogDir(spark, dir)
    val base = baseStateDir(spark, dir)
    val morRoot = OneShot.tempDir("graft-mor-auto")
    runMorApplyAutoCompact(spark, staged, morRoot,
      OneShot.ckptDir("graft-ckpt-mor-auto"), maxLive = 1)
    val (genDir, upto) = currentMinor(morRoot).getOrElse(("minor-g-1", -1L))
    val nFolds = genIndex(genDir) + 1
    val nLive = batchIds(s"$morRoot/deletes")
      .union(batchIds(s"$morRoot/inserts")).distinct.count(_ > upto).toLong
    morMinorRead(spark, base, morRoot)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .select(col("n_rows"), lit(nFolds).as("n_folds"),
        lit(nLive).as("n_live_batches"), col("total_cents"))
  }

  /** The declared BYTE-TRIGGERED auto-compaction row
    * (`orders_mor_autocompact_bytes`, r13 verdict #3 — promoting the
    * size policy from spec-only to the hash gate): the same streamed
    * apply, but with the COUNT trigger provably inert (maxLive = 100
    * over a 4-chunk stream — count alone would never fold) and the
    * byte budget at its floor (1 byte — any non-empty sidecar
    * overflows it), so EVERY fold that happens is byte-triggered:
    * 4 generations (g3), zero live batches. Deterministic at every
    * tier because the decision needs only "bytes > 1", never an exact
    * parquet file size. Same composed-end-state oracle family; the
    * structural pin (n_folds = 4 vs the count row's 2) separates the
    * two policies under the gate. Output: (n_rows, n_folds,
    * n_live_batches, total_cents).
    */
  def morAutoCompactBytesStreamed(spark: SparkSession, dir: String)
      : DataFrame = {
    val staged = stagedChangelogDir(spark, dir)
    val base = baseStateDir(spark, dir)
    val morRoot = OneShot.tempDir("graft-mor-autob")
    runMorApplyAutoCompact(spark, staged, morRoot,
      OneShot.ckptDir("graft-ckpt-mor-autob"), maxLive = 100,
      maxLiveBytes = 1L)
    val (genDir, upto) = currentMinor(morRoot).getOrElse(("minor-g-1", -1L))
    val nFolds = genIndex(genDir) + 1
    val nLive = batchIds(s"$morRoot/deletes")
      .union(batchIds(s"$morRoot/inserts")).distinct.count(_ > upto).toLong
    morMinorRead(spark, base, morRoot)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .select(col("n_rows"), lit(nFolds).as("n_folds"),
        lit(nLive).as("n_live_batches"), col("total_cents"))
  }

  // ------------------------------------------------------------------
  // INCREMENTAL VIEW MAINTENANCE — the other thing a changelog is for.
  // The apply loop maintains the TABLE; IVM maintains an AGGREGATE over
  // it without ever rescanning it: for distributive aggregates
  // (count/sum), the changelog alone determines the delta — an update
  // contributes (new - old), an insert (+new, +1 row), a delete
  // (-old, -1 row) — so a trigger costs O(|batch| + groups), never
  // O(|table|). At 100 TB this is the difference between a dashboard
  // that refreshes per commit and one that re-aggregates the lake. The
  // view state is O(groups) (here NIvmSegments rows), versioned under
  // the same strictly-below/truncate-own crash discipline as the
  // table state (IvmCrashSpec proves exactly-once convergence).
  // ------------------------------------------------------------------

  /** Group count for the maintained view — pmod(o_orderkey, 8) stands
    * in for a real grouping dimension (the changelog carries only keys
    * and cents; any key-derivable group works identically).
    */
  private[graft] val NIvmSegments = 8

  /** The view's initial build — the ONLY scan of the base table the
    * IVM loop ever performs, rendered once per dataset (charged to
    * `bench_build_cdc_stage`).
    */
  private def ivmBaseAggDir(spark: SparkSession, dir: String): String =
    graft.IndexCache.getOrBuild(spark,
        "orders-cdc-ivm-base", dir, NIvmSegments) {
      val out = OneShot.tempDir("graft-cdc-ivm-base")
      graft.Tables.orders(spark, dir)
        .groupBy(pmod(col("o_orderkey"), lit(NIvmSegments)).as("segment"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("total_cents"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      out
    }

  /** The view as of version `beforeV - 1`: the newest whole-state
    * version strictly below, base fallback. The state is O(groups), so
    * each version is one tiny file — no bucketing needed.
    */
  private def ivmStateAt(spark: SparkSession, aggRoot: String,
      baseDir: String, beforeV: Long): DataFrame = {
    val root = new java.io.File(aggRoot)
    val vs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
      .filter(_ < beforeV)
    val path = if (vs.isEmpty) baseDir else s"$aggRoot/v=${vs.max}"
    spark.read.parquet(path)
  }

  /** Drive the IVM loop: tail `stagedDir` one chunk per trigger; each
    * micro-batch folds its per-group delta (sum of signed cent moves +
    * signed row counts, computed from the changelog slice ALONE) into
    * the O(groups) view state at `aggRoot/v=<batchId>`. Exposed so the
    * crash spec can drive the same loop with an injected failure.
    */
  private[graft] def runIvm(spark: SparkSession, stagedDir: String,
      baseDir: String, aggRoot: String, ckpt: String,
      crashAt: Long = -1L,
      crashed: java.util.concurrent.atomic.AtomicBoolean = null): Unit = {
    tailChangelog(spark, stagedDir, ckpt, crashAt, crashed) { (batch, id) =>
      val delta = batch.localCheckpoint(true)
        .groupBy(pmod(col("o_orderkey"), lit(NIvmSegments)).as("segment"))
        .agg(
          sum(when(col("action") === "insert", 1L)
            .when(col("action") === "delete", -1L)
            .otherwise(0L)).as("d_rows"),
          sum(when(col("action") === "update",
              col("new_cents") - col("old_cents"))
            .when(col("action") === "insert", col("new_cents"))
            .otherwise(-col("old_cents"))).as("d_cents"))
      val prev = ivmStateAt(batch.sparkSession, aggRoot, baseDir, id)
      prev.join(delta, Seq("segment"), "full_outer")
        .select(col("segment"),
          (coalesce(col("n_rows"), lit(0L))
            + coalesce(col("d_rows"), lit(0L))).as("n_rows"),
          (coalesce(col("total_cents"), lit(0L))
            + coalesce(col("d_cents"), lit(0L))).as("total_cents"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$aggRoot/v=$id")
    }
  }

  /** The declared STREAMING-EXECUTED IVM row
    * (`orders_cdc_ivm_streamed`): maintain the per-segment
    * (rows, cents) view from the changelog deltas alone and emit the
    * final view; the oracle re-aggregates the fully-composed end table
    * from scratch — a hash match proves O(changes)-per-trigger
    * maintenance converged to exactly the full recompute. Groups whose
    * row count reaches zero leave the view (GROUP BY semantics).
    * Output: (segment, n_rows, total_cents).
    */
  def ivmChangelogStreamed(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedChangelogDir(spark, dir)
    val base = ivmBaseAggDir(spark, dir)
    val aggRoot = OneShot.tempDir("graft-cdc-ivm")
    runIvm(spark, staged, base, aggRoot, OneShot.ckptDir("graft-ckpt-ivm"))
    ivmStateAt(spark, aggRoot, base, Long.MaxValue)
      .filter(col("n_rows") > 0)
      .select(col("segment"), col("n_rows"), col("total_cents"))
  }
}
