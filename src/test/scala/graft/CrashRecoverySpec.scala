package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.operators.{Dedup, EventOps}
import graft.streaming.{CorpusStream, EventStream, OneShot}
import graft.streaming.EventStream.Ev

/** Crash-recovery proof for the streaming engine: the fifteen declared
  * streamed rows pin streamed == batch on a CLEAN run; these tests kill
  * a stream mid-flight — after at least one COMMITTED micro-batch, with
  * a later batch's sink files already written but its commit lost — and
  * restart from the same checkpoint, pinning that the final sink still
  * equals the batch answer exactly once.
  *
  * The failure injected is precisely the at-least-once hazard the
  * idempotent `batch=<id>` + overwrite sink contract exists for
  * (`streaming/VectorStream.writeBatchIdempotent`): the restarted query
  * REPLAYS the uncommitted batch under the same batchId, clobbering its
  * own orphaned partial output instead of duplicating it. A blind
  * `mode("append")` sink fails both tests with doubled rows.
  *
  * Covered per the round-7 verdict ask: one STATEFUL row
  * (`events_attribution_streamed`'s plan — watermark reorder buffer +
  * event-time-timeout state eviction must restore from the state store)
  * and one STREAM-STATIC row (`dedup_incremental_streamed`'s plan —
  * offsets-only recovery against the standing corpus relations).
  */
class CrashRecoverySpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  /** Write `df` as ONE parquet file `destDir/name` with a controlled
    * modification time — the file stream source discovers files oldest
    * mtime first, so staggered mtimes make the micro-batch split
    * deterministic under maxFilesPerTrigger=1.
    */
  private def stageChunk(df: DataFrame, destDir: Path, name: String,
      mtimeMs: Long): Unit = {
    val tmp = Paths.get(OneShot.tempDir("graft-chunk"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("p").toString)
    val part = {
      val s = Files.list(tmp.resolve("p"))
      try s.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    val dest = destDir.resolve(name)
    Files.copy(part, dest)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeMs))
    ()
  }

  /** State-store count is fixed per checkpoint at first run — both the
    * crashing run and the recovery run MUST plan the same width.
    */
  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val k = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(k)
    spark.conf.set(k, n.toString)
    try f finally spark.conf.set(k, prev)
  }

  /** Run `frame` to completion under AvailableNow through the
    * idempotent per-batch parquet sink, throwing AFTER the sink write
    * of batch `crashAt` on the first pass (files durable, commit lost —
    * the worst-ordered at-least-once failure).
    */
  private def runWithInjectedCrash(frame: DataFrame, sinkDir: String,
      ckptDir: String, crashAt: Long,
      crashed: java.util.concurrent.atomic.AtomicBoolean): Unit = {
    val q = frame.writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
        if (id >= crashAt && crashed.compareAndSet(false, true))
          throw new RuntimeException("graft-injected-crash")
        ()
      }
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("stateful attribution stream survives a mid-flight crash: " +
      "restart from checkpoint, sink == batch exactly once") {
    import spark.implicits._
    // Stage the fixture as three time-ordered chunks split at the median
    // EVENT time (each later chunk's rows are >= every earlier chunk's,
    // so the advancing watermark never drops a still-undelivered row),
    // with the far-future watermark sentinel last.
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val tsUs = ev.select(unix_micros(col("ts"))).as[Long].collect().sorted
    val cutUs = tsUs(tsUs.length / 2)
    val farUs = tsUs.last + 365L * 24 * 3600 * 1000000L
    val sentinel = Seq((-1L, farUs, -1L, "click", 0.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val staged = Paths.get(OneShot.tempDir("graft-crash-att-src"))
    val t0 = System.currentTimeMillis() - 60000L
    stageChunk(ev.filter(unix_micros(col("ts")) <= cutUs), staged,
      "e0.parquet", t0)
    stageChunk(ev.filter(unix_micros(col("ts")) > cutUs), staged,
      "e1.parquet", t0 + 10000L)
    stageChunk(sentinel, staged, "e2.parquet", t0 + 20000L)

    val sinkDir = OneShot.tempDir("graft-crash-att-sink")
    val ckptDir = OneShot.tempDir("graft-crash-att-ckpt")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def frame: DataFrame = {
      val schema = spark.read.parquet(staged.toString).schema
      EventStream.attributionStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(staged.toString).as[Ev]).toDF()
    }
    // run 1: batch 0 commits, batch 1 writes its sink files then dies
    intercept[StreamingQueryException] {
      withShufflePartitions(4) {
        runWithInjectedCrash(frame, sinkDir, ckptDir, 1L, crashed)
      }
    }
    assert(crashed.get(), "the injected crash must actually fire")
    assert(Files.exists(Paths.get(ckptDir, "commits", "0")),
      "crash must land AFTER at least one committed micro-batch")
    assert(!Files.exists(Paths.get(ckptDir, "commits", "1")),
      "the crashed batch must be uncommitted (its replay is the point)")
    // run 2: restart from the same checkpoint — batch 1 replays under
    // the same id (overwriting its orphan), the sentinel advances the
    // watermark, timeouts drain the restored state
    withShufflePartitions(4) {
      runWithInjectedCrash(frame, sinkDir, ckptDir, 1L, crashed)
    }
    val got = spark.read.parquet(sinkDir)
      .filter(col("user_id") =!= -1L)
      .groupBy(col("model"), col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("c")).as("revenue_cents"))
      .orderBy("model", "channel").collect()
    val want = EventOps.attribution(spark, sf0001)
      .orderBy("model", "channel").collect()
    assert(got.nonEmpty)
    assert(got.length == want.length,
      s"rollup rows ${got.length} != batch ${want.length}")
    assert(got.sameElements(want))
  }

  test("stream-static incremental dedup survives a mid-flight crash: " +
      "offsets-only recovery, exactly-once pair set") {
    // Two doc chunks (both containing slot docs), stateless plan: the
    // recovery here is offsets-only — no state store, the standing
    // corpus relations are reused as-is.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val staged = Paths.get(OneShot.tempDir("graft-crash-dedup-src"))
    val t0 = System.currentTimeMillis() - 60000L
    stageChunk(docs.filter((col("doc_id") / 10).cast("long") % 2 === 0),
      staged, "d0.parquet", t0)
    stageChunk(docs.filter((col("doc_id") / 10).cast("long") % 2 === 1),
      staged, "d1.parquet", t0 + 10000L)

    val sinkDir = OneShot.tempDir("graft-crash-dedup-sink")
    val ckptDir = OneShot.tempDir("graft-crash-dedup-ckpt")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def frame: DataFrame = CorpusStream.incrementalMinhashFrame(
      spark, sf001, staged.toString, maxFilesPerTrigger = Some(1))
    intercept[StreamingQueryException] {
      withShufflePartitions(4) {
        runWithInjectedCrash(frame, sinkDir, ckptDir, 1L, crashed)
      }
    }
    assert(Files.exists(Paths.get(ckptDir, "commits", "0")))
    assert(!Files.exists(Paths.get(ckptDir, "commits", "1")))
    withShufflePartitions(4) {
      runWithInjectedCrash(frame, sinkDir, ckptDir, 1L, crashed)
    }
    // a pair colliding in several bands appends one identical row per
    // band — distinct restores the pair set (the declared row's shape)
    val got = spark.read.parquet(sinkDir)
      .select(col("doc_new"), col("doc_corpus"), col("jaccard"))
      .distinct().orderBy("doc_new", "doc_corpus").collect()
    val want = Dedup.incrementalMinhashPairs(spark, sf001)
      .orderBy("doc_new", "doc_corpus").collect()
    assert(got.nonEmpty, "fixture must produce at least one dup pair")
    assert(got.length == want.length)
    assert(got.sameElements(want))
  }

  /** Stage the sf0.001 changelog as 4 pmod-keyed chunks with ascending
    * mtimes (batch i == chunk i) and render the bucketed base snapshot.
    * Chunks 1-2 are EMPTY by construction (update/delete keys are all
    * ≡ 0 mod 4, insert clones ≡ 3), so batch 3 is the data-carrying
    * one a crash must land on to prove anything.
    */
  private def stageCdcFixture(prefix: String): (String, String) = {
    val log = graft.sources.Ingest.mergeChangelogShowcase(spark, sf0001)
      .localCheckpoint(true)
    val staged = Paths.get(OneShot.tempDir(s"$prefix-src"))
    val t0 = System.currentTimeMillis() - 60000L
    (0 until 4).foreach { i =>
      stageChunk(log.filter(pmod(col("o_orderkey"), lit(4)) === i),
        staged, s"c$i.parquet", t0 + i * 10000L)
    }
    val base = OneShot.tempDir(s"$prefix-base")
    Tables.orders(spark, sf0001)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"),
          lit(graft.streaming.CdcStream.NStateBuckets)).as("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(base)
    (staged.toString, base)
  }

  /** The batch-composed MERGE end state (n_rows, total_cents) both CDC
    * crash tests must converge to.
    */
  private def batchMergeWant(): (Long, Long) = {
    val orders = Tables.orders(spark, sf0001)
    val updates = orders.filter(col("o_orderkey") % 500 === 0)
      .withColumn("o_totalprice",
        expr("CAST(round(o_totalprice * 100) AS BIGINT) * 11 div 10") / 100.0)
    val inserts = updates.withColumn("o_orderkey", -(col("o_orderkey") + 1))
    val dels = orders
      .filter(col("o_orderkey") % 700 === 0 && col("o_orderkey") % 500 =!= 0)
      .select(col("o_orderkey"))
    graft.sources.Ingest.deleteByKey(
        graft.sources.Ingest.upsert(orders, updates.unionByName(inserts),
          "o_orderkey"), dels, "o_orderkey")
      .agg(count(lit(1)),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
  }

  test("streaming CDC apply survives a mid-flight crash: versioned-state " +
      "recovery converges to the batch MERGE end state exactly once") {
    import graft.streaming.CdcStream
    val (staged, base) = stageCdcFixture("graft-crash-cdc")
    val stateRoot = OneShot.tempDir("graft-crash-cdc-state")
    val ckptDir = OneShot.tempDir("graft-crash-cdc-ckpt")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // crash AFTER v=3 — the DATA-CARRYING batch (the insert-clone
    // chunk) — is written but before its commit: the restart must
    // REPLAY batch 3, rewriting v=3 from the pre-batch-3 state (not
    // from its own partial self) — exactly the versioned
    // read-strictly-below/truncate-own contract. (Batches 1-2 are
    // empty; crashing there would prove nothing.)
    intercept[StreamingQueryException] {
      withShufflePartitions(4) {
        CdcStream.runApply(spark, staged, base, stateRoot,
          ckptDir, crashAt = 3L, crashed = crashed)
      }
    }
    assert(Files.exists(Paths.get(ckptDir, "commits", "2")))
    assert(!Files.exists(Paths.get(ckptDir, "commits", "3")))
    assert(Files.exists(Paths.get(stateRoot, "v=3")),
      "the crash must land AFTER the uncommitted batch wrote its dir")
    withShufflePartitions(4) {
      CdcStream.runApply(spark, staged, base, stateRoot,
        ckptDir, crashAt = 3L, crashed = crashed)
    }
    val got = CdcStream.endState(spark, stateRoot, base)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val want = batchMergeWant()
    assert(got == want, s"recovered state $got != batch MERGE $want")
  }

  test("streaming merge-on-read apply survives a mid-flight crash: the " +
      "replayed batch overwrites its own sidecar dirs, end state exact") {
    import graft.streaming.CdcStream
    val (staged, base) = stageCdcFixture("graft-crash-mor")
    val morRoot = OneShot.tempDir("graft-crash-mor-st")
    val ckptDir = OneShot.tempDir("graft-crash-mor-ckpt")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // crash AFTER batch 3 — the DATA-CARRYING insert-clone chunk —
    // writes its sidecars but before its commit: the restart replays
    // batch 3, overwriting batch=3's dirs with the same rows. A blind
    // mode("append") sidecar sink fails this with doubled inserts.
    intercept[StreamingQueryException] {
      withShufflePartitions(4) {
        CdcStream.runMorApply(spark, staged, morRoot,
          ckptDir, crashAt = 3L, crashed = crashed)
      }
    }
    assert(Files.exists(Paths.get(ckptDir, "commits", "2")))
    assert(!Files.exists(Paths.get(ckptDir, "commits", "3")))
    assert(Files.exists(Paths.get(morRoot, "inserts", "batch=3")),
      "the crash must land AFTER the uncommitted batch wrote sidecars")
    withShufflePartitions(4) {
      CdcStream.runMorApply(spark, staged, morRoot,
        ckptDir, crashAt = 3L, crashed = crashed)
    }
    val got = CdcStream.morStreamedSummary(spark, base, morRoot)
      .collect().map(r => (r.getLong(0), r.getLong(3))).head
    val want = batchMergeWant()
    assert(got == want, s"recovered MOR state $got != batch MERGE $want")
  }

  private def morState(base: String, morRoot: String): (Long, Long) =
    graft.streaming.CdcStream.morMinorRead(spark, base, morRoot)
      .agg(count(lit(1)), sum(col("cents")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head

  /** Stage a streamed MOR sidecar layout to fold. */
  private def morLayout(tag: String): (String, String) = {
    import graft.streaming.CdcStream
    val (staged, base) = stageCdcFixture(tag)
    val morRoot = OneShot.tempDir(s"$tag-root")
    withShufflePartitions(4) {
      CdcStream.runMorApply(spark, staged, morRoot,
        OneShot.tempDir(s"$tag-ckpt"))
    }
    (base, morRoot)
  }

  test("MOR minor compaction crash BEFORE the pointer swap: the " +
      "unreferenced generation is invisible, readers stay on the " +
      "originals, the re-run collects it and folds") {
    import graft.streaming.CdcStream
    val (base, morRoot) = morLayout("graft-crash-minor-a")
    val want = batchMergeWant()
    intercept[RuntimeException] {
      CdcStream.morMinorCompact(spark, morRoot, 3, crashAfter = "staged")
    }
    assert(Files.exists(Paths.get(morRoot, "minor-g0", "UPTO")),
      "the crash must land AFTER the generation dir was fully written")
    assert(!Files.exists(Paths.get(morRoot, "MINOR_CURRENT")),
      "nothing may be committed before the pointer swap")
    assert(morState(base, morRoot) == want,
      "pre-commit crash must leave readers on the original sidecars")
    val upto = CdcStream.morMinorCompact(spark, morRoot, 3)
    assert(upto == 2L, s"folded high-water $upto")
    assert(!Files.exists(Paths.get(morRoot, "minor-staging")))
    assert(Files.exists(Paths.get(morRoot, "MINOR_CURRENT")))
    assert(!Files.exists(Paths.get(morRoot, "deletes", "batch=0")) &&
      !Files.exists(Paths.get(morRoot, "inserts", "batch=2")),
      "folded batch dirs must be deleted by the completed fold")
    assert(Files.exists(Paths.get(morRoot, "inserts", "batch=3")),
      "newer sidecars stay untouched")
    assert(morState(base, morRoot) == want,
      "the completed fold must preserve the end state")
  }

  test("MOR minor compaction crash AFTER the pointer swap: retired " +
      "leftovers are dead files, the next call sweeps them and keeps " +
      "folding") {
    import graft.streaming.CdcStream
    val (base, morRoot) = morLayout("graft-crash-minor-b")
    val want = batchMergeWant()
    intercept[RuntimeException] {
      CdcStream.morMinorCompact(spark, morRoot, 3, crashAfter = "committed")
    }
    assert(Files.exists(Paths.get(morRoot, "MINOR_CURRENT")),
      "the crash must land AFTER the pointer swap committed")
    assert(Files.exists(Paths.get(morRoot, "deletes", "batch=0")),
      "the crash must land BEFORE the folded dirs were deleted")
    assert(morState(base, morRoot) == want,
      "post-commit readers resolve through the pointer — leftover " +
        "folded dirs must not double-count")
    // the next call sweeps the leftovers and folds the remaining live
    // batch into generation g1 — repeated folds are the normal path
    val upto = CdcStream.morMinorCompact(spark, morRoot, 3)
    assert(upto == 3L, s"second fold high-water $upto")
    assert(!Files.exists(Paths.get(morRoot, "deletes", "batch=0")),
      "the entry sweep must finish the crashed fold's deletions")
    assert(!Files.exists(Paths.get(morRoot, "minor-g0")),
      "the retired generation must be collected")
    assert(Files.exists(Paths.get(morRoot, "minor-g1", "UPTO")))
    assert(morState(base, morRoot) == want)
  }

  test("auto-compacting streamed MOR apply survives a crash landing " +
      "right after a fold: the replayed batch's re-written sidecars " +
      "are dead files behind the pointer") {
    import graft.streaming.CdcStream
    val (staged, base) = stageCdcFixture("graft-crash-mor-auto")
    val morRoot = OneShot.tempDir("graft-crash-auto-root")
    val ckptDir = OneShot.tempDir("graft-crash-auto-ckpt")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // crash in batch 3, AFTER its sidecar append and the second fold
    // (maxLive=1 folds at batches 1 and 3) but before its commit: the
    // restart replays batch 3, re-writing batch=3 dirs that g1 already
    // absorbed — readers resolve through the pointer and must not
    // double-count them
    intercept[StreamingQueryException] {
      withShufflePartitions(4) {
        CdcStream.runMorApplyAutoCompact(spark, staged, morRoot,
          ckptDir, maxLive = 1, crashAt = 3L, crashed = crashed)
      }
    }
    assert(!Files.exists(Paths.get(ckptDir, "commits", "3")))
    assert(Files.exists(Paths.get(morRoot, "minor-g1", "UPTO")),
      "the crash must land AFTER the second fold committed")
    withShufflePartitions(4) {
      CdcStream.runMorApplyAutoCompact(spark, staged, morRoot,
        ckptDir, maxLive = 1, crashAt = 3L, crashed = crashed)
    }
    val want = batchMergeWant()
    assert(morState(base, morRoot) == want,
      s"recovered auto-compacted state != batch MERGE $want")
  }
}
