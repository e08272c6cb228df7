package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.{CdcStream, OneShot}

/** Pins the two round-11 CDC extensions structurally.
  *
  * COMPACTION: folding the version chain into one snapshot must (a)
  * preserve the resolved table row-for-row, (b) actually remove the
  * folded `v=` directories when asked, and (c) leave a snapshot that
  * serves as the base for FURTHER versions — the transaction-log
  * checkpoint contract (fold, then keep appending).
  *
  * IVM: the delta-maintained view must carry O(groups) state per
  * version and converge exactly-once through an injected mid-stream
  * crash, the same discipline CrashRecoverySpec pins for the table
  * state.
  */
class CdcCompactSpec extends SparkSpec {

  private def stageChunk(df: DataFrame, destDir: Path, name: String,
      mtimeMs: Long): Unit = {
    val tmp = Paths.get(OneShot.tempDir("graft-cpt-chunk"))
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

  /** The 4-chunk changelog staged + bucketed base snapshot + apply run,
    * returning (stateRoot, baseDir).
    */
  private def applied(): (String, String) = {
    val nB = CdcStream.NStateBuckets
    val log = graft.sources.Ingest.mergeChangelogShowcase(spark, sf0001)
      .localCheckpoint(true)
    val staged = Paths.get(OneShot.tempDir("graft-cpt-src"))
    val t0 = System.currentTimeMillis() - 60000L
    (0 until 4).foreach { i =>
      stageChunk(log.filter(pmod(col("o_orderkey"), lit(4)) === i),
        staged, s"c$i.parquet", t0 + i * 10000L)
    }
    val base = OneShot.tempDir("graft-cpt-base")
    Tables.orders(spark, sf0001)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(nB)).as("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(base)
    val stateRoot = OneShot.tempDir("graft-cpt-state")
    CdcStream.runApply(spark, staged.toString, base, stateRoot,
      OneShot.tempDir("graft-cpt-ckpt"))
    (stateRoot, base)
  }

  test("compaction folds the version chain losslessly, removes the folded " +
      "dirs, and the snapshot serves as base for further versions") {
    val (stateRoot, base) = applied()
    val resolvedPre = CdcStream
      .endState(spark, stateRoot, base).collect().head
    val rowsPre = {
      val (cdirPeek, _) = CdcStream.compactState(spark, stateRoot, base)
      spark.read.parquet(cdirPeek)
        .select(col("o_orderkey"), col("cents"))
        .orderBy("o_orderkey").collect()
    }
    // fold again, this time dropping the version chain
    val (cdir, folded) = CdcStream.compactState(spark, stateRoot, base,
      removeFolded = true)
    // the expected version set = the chunks carrying at least one
    // action (update/delete keys are ≡0 mod 4 — multiples of 500/700;
    // inserts -(k+1) are ≡3 — so chunks 1 and 2 stage empty files and
    // their batches touch nothing)
    val expectVersions = graft.sources.Ingest
      .mergeChangelogShowcase(spark, sf0001)
      .select(pmod(col("o_orderkey"), lit(4)).cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(folded == expectVersions,
      s"expected versions $expectVersions folded, got $folded")
    assert(folded.nonEmpty)
    folded.foreach { v =>
      assert(!Files.exists(Paths.get(s"$stateRoot/v=$v")),
        s"folded v=$v still on disk")
    }
    // (a) lossless: snapshot rows == the pre-compaction resolved table
    val rowsPost = spark.read.parquet(cdir)
      .select(col("o_orderkey"), col("cents"))
      .orderBy("o_orderkey").collect()
    assert(rowsPost.length == resolvedPre.getLong(0))
    assert(rowsPost.sameElements(rowsPre))
    // with the version chain gone, resolution must fall back to the
    // snapshot wholesale and still agree
    val resolvedPost = CdcStream.endState(spark, stateRoot, cdir)
      .collect().head
    assert(resolvedPost == resolvedPre)

    // (c) further versions stack on the snapshot: delete one surviving
    // key through a fresh one-chunk apply using the snapshot as base
    val k0 = rowsPost.head.getLong(0)
    val c0 = rowsPost.head.getLong(1)
    val extra = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(k0, "delete", c0, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("action",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("old_cents",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("new_cents",
          org.apache.spark.sql.types.LongType))))
    val staged2 = Paths.get(OneShot.tempDir("graft-cpt-src2"))
    stageChunk(extra, staged2, "c0.parquet", System.currentTimeMillis())
    val stateRoot2 = OneShot.tempDir("graft-cpt-state2")
    CdcStream.runApply(spark, staged2.toString, cdir, stateRoot2,
      OneShot.tempDir("graft-cpt-ckpt2"))
    val after = CdcStream.endState(spark, stateRoot2, cdir).collect().head
    assert(after.getLong(0) == resolvedPre.getLong(0) - 1)
    assert(after.getLong(1) == resolvedPre.getLong(1) - c0)
  }

  test("MOR sequence masking: an insert later deleted IS masked, a same-" +
      "batch delete+insert upserts, and the minor fold preserves both") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // synthetic sidecar chain exercising the general semantics the
    // showcase changelog's disjoint keys never reach:
    //   base: keys 1..6 (cents 10k)
    //   batch 0: +100, -1
    //   batch 1: -100 (kills the batch-0 insert), -2 & +2@999 (upsert)
    //   batch 2: +200
    val schema2 = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("cents", LongType)))
    val schema1 = StructType(Seq(StructField("o_orderkey", LongType)))
    def write(rows: Seq[Row], schema: StructType, path: String): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
    val base = OneShot.tempDir("graft-seq-base")
    write((1L to 6L).map(k => Row(k, 10L * k)), schema2, base)
    val root = OneShot.tempDir("graft-seq-mor")
    write(Seq(Row(100L, 1L)), schema2, s"$root/inserts/batch=0")
    write(Seq(Row(1L)), schema1, s"$root/deletes/batch=0")
    write(Seq(Row(2L, 999L)), schema2, s"$root/inserts/batch=1")
    write(Seq(Row(100L), Row(2L)), schema1, s"$root/deletes/batch=1")
    write(Seq(Row(200L, 7L)), schema2, s"$root/inserts/batch=2")
    write(Seq.empty[Row], schema1, s"$root/deletes/batch=2")
    def state(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseState = (1L to 6L).map(k => k -> 10L * k).toMap
    val want = Map(
      -1L -> baseState,
      0L -> (baseState - 1L + (100L -> 1L)),
      1L -> (baseState - 1L - 2L + (2L -> 999L)),
      2L -> (baseState - 1L - 2L + (2L -> 999L) + (200L -> 7L)))
    want.foreach { case (v, w) =>
      assert(state(CdcStream.morResolveAsOf(spark, base, root, v)) == w,
        s"as-of v=$v")
    }
    // minor fold of batches 0..1: the batch-0 insert must NOT resurrect
    // (internal masking), the upsert must survive at the consolidated
    // sequence, and the head read equals the unfolded resolution
    val upto = CdcStream.morMinorCompact(spark, root, foldK = 2)
    assert(upto == 1L)
    val gen = CdcStream.currentMinor(root).get._1
    val minIns = state(spark.read.parquet(s"$gen/inserts"))
    assert(minIns == Map(2L -> 999L),
      s"consolidated inserts carry only the surviving upsert: $minIns")
    assert(state(CdcStream.morMinorRead(spark, base, root)) == want(2L))
    // SECOND fold: g1 absorbs g0 + batch 2 — repeated generations must
    // preserve the head state and retire the prior generation
    val upto2 = CdcStream.morMinorCompact(spark, root, foldK = 2)
    assert(upto2 == 2L)
    assert(CdcStream.currentMinor(root).get._1.endsWith("minor-g1"))
    assert(!Files.exists(Paths.get(gen)), "g0 must be retired")
    assert(state(CdcStream.morMinorRead(spark, base, root)) == want(2L))
  }

  test("folded time travel: retained boundaries resolve through the minor " +
      "generation, the fold horizon is enforced, and reads racing the " +
      "pointer swap are safe on both sides of the commit") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema2 = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("cents", LongType)))
    val schema1 = StructType(Seq(StructField("o_orderkey", LongType)))
    def write(rows: Seq[Row], schema: StructType, path: String): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
    val base = OneShot.tempDir("graft-ftt-base")
    write((1L to 6L).map(k => Row(k, 10L * k)), schema2, base)
    val root = OneShot.tempDir("graft-ftt-mor")
    write(Seq(Row(100L, 1L)), schema2, s"$root/inserts/batch=0")
    write(Seq(Row(1L)), schema1, s"$root/deletes/batch=0")
    write(Seq(Row(2L, 999L)), schema2, s"$root/inserts/batch=1")
    write(Seq(Row(100L), Row(2L)), schema1, s"$root/deletes/batch=1")
    write(Seq(Row(200L, 7L)), schema2, s"$root/inserts/batch=2")
    write(Seq.empty[Row], schema1, s"$root/deletes/batch=2")
    def state(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseState = (1L to 6L).map(k => k -> 10L * k).toMap
    val want = Map(
      0L -> (baseState - 1L + (100L -> 1L)),
      1L -> (baseState - 1L - 2L + (2L -> 999L)),
      2L -> (baseState - 1L - 2L + (2L -> 999L) + (200L -> 7L)))

    // crash BEFORE the pointer swap: the staged generation exists but
    // is unreferenced — a racing reader resolves the PRISTINE chain at
    // every boundary (the uncommitted fold is invisible)
    intercept[RuntimeException] {
      CdcStream.morMinorCompact(spark, root, foldK = 2,
        crashAfter = "staged")
    }
    assert(CdcStream.currentMinor(root).isEmpty, "uncommitted fold leaked")
    (0L to 2L).foreach { v =>
      assert(state(CdcStream.morMinorRead(spark, base, root, v)) == want(v),
        s"pre-commit racing read at v=$v")
    }

    // recovery fold commits (entry sweep collects the crashed gen):
    // retained boundaries >= upto resolve THROUGH the generation
    // exactly as the pristine chain served them; below it throws
    val upto = CdcStream.morMinorCompact(spark, root, foldK = 2)
    assert(upto == 1L)
    (1L to 2L).foreach { v =>
      assert(state(CdcStream.morMinorRead(spark, base, root, v)) == want(v),
        s"folded as-of v=$v")
    }
    intercept[IllegalArgumentException] {
      CdcStream.morMinorRead(spark, base, root, 0L)
    }

    // crash AFTER the pointer swap of a SECOND fold: the commit is the
    // swap, so a racing reader already resolves the new generation —
    // the retired g0 dir and folded batch dirs still on disk are dead
    // files it must ignore
    intercept[RuntimeException] {
      CdcStream.morMinorCompact(spark, root, foldK = 1,
        crashAfter = "committed")
    }
    assert(CdcStream.currentMinor(root).get._2 == 2L)
    assert(state(CdcStream.morMinorRead(spark, base, root, 2L)) == want(2L),
      "post-commit racing read")
    intercept[IllegalArgumentException] {
      CdcStream.morMinorRead(spark, base, root, 1L)
    }
  }

  test("auto-compaction triggers on live sidecar BYTES where the count " +
      "policy alone would not, through the same fold path") {
    val log = graft.sources.Ingest.mergeChangelogShowcase(spark, sf0001)
      .localCheckpoint(true)
    val staged = Paths.get(OneShot.tempDir("graft-szt-src"))
    val t0 = System.currentTimeMillis() - 60000L
    (0 until 4).foreach { i =>
      stageChunk(log.filter(pmod(col("o_orderkey"), lit(4)) === i),
        staged, s"c$i.parquet", t0 + i * 10000L)
    }
    // control: count-only policy with a huge threshold — never folds
    val rootCount = OneShot.tempDir("graft-szt-cnt")
    CdcStream.runMorApplyAutoCompact(spark, staged.toString, rootCount,
      OneShot.tempDir("graft-szt-ck1"), maxLive = 100)
    assert(CdcStream.currentMinor(rootCount).isEmpty,
      "count policy must not fire at maxLive=100")
    // size policy: 1-byte budget — every non-empty live set exceeds it,
    // so each micro-batch folds (count threshold still never reached)
    val rootSize = OneShot.tempDir("graft-szt-sz")
    CdcStream.runMorApplyAutoCompact(spark, staged.toString, rootSize,
      OneShot.tempDir("graft-szt-ck2"), maxLive = 100,
      maxLiveBytes = 1L)
    val (gen, upto) = CdcStream.currentMinor(rootSize).getOrElse(
      fail("size policy never folded"))
    assert(gen.endsWith("minor-g3") && upto == 3L,
      s"expected a fold per batch (g3, upto 3), got ($gen, $upto)")
    assert(CdcStream.liveSidecarBytes(rootSize, upto) == 0L)
    // both policies converge to the identical end state
    val nB = CdcStream.NStateBuckets
    val base = OneShot.tempDir("graft-szt-base")
    Tables.orders(spark, sf0001)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(nB)).as("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(base)
    def state(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unfolded = state(CdcStream.morMinorRead(spark, base, rootCount))
    val folded = state(CdcStream.morMinorRead(spark, base, rootSize))
    assert(folded == unfolded && folded.nonEmpty)
  }

  test("snapshot expiry re-run resumes at the commit point: the completed " +
      "new-base write is never rebuilt from a partially-deleted chain") {
    val (stateRoot, base) = applied()
    val (newBase, expired) = CdcStream.expireSnapshots(spark, stateRoot,
      base, keepFrom = 2L)
    assert(expired.nonEmpty)
    val success = Paths.get(s"$newBase/_SUCCESS")
    assert(Files.exists(success), "parquet commit marker missing")
    val mtime = Files.getLastModifiedTime(success)
    // simulate the crash-mid-deletion re-run: versions below the
    // horizon are already gone, so a rebuild would derive a DIFFERENT
    // (wrong) base — the re-run must skip it and only resume the sweep
    val (newBase2, expired2) = CdcStream.expireSnapshots(spark, stateRoot,
      base, keepFrom = 2L)
    assert(newBase2 == newBase)
    // the expired-id list is ATTEMPT-INVARIANT (r13 advice): the resume
    // reads the manifest committed before the first deletion instead of
    // enumerating whichever dirs survived the partial sweep — a caller
    // pinning the expired count sees the same answer on every attempt
    assert(expired2 == expired,
      s"resume must report the committed expired list, got $expired2")
    assert(Files.getLastModifiedTime(success) == mtime,
      "re-run rewrote the committed new base")
  }

  test("generation index parses from the pointer basename even when the " +
      "morRoot path itself contains the substring 'minor-g'") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema2 = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("cents", LongType)))
    val schema1 = StructType(Seq(StructField("o_orderkey", LongType)))
    def write(rows: Seq[Row], schema: StructType, path: String): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
    // the r12-advice trap: a caller-supplied root whose PATH contains
    // the generation prefix (split-on-substring parsing misread this)
    val root = OneShot.tempDir("graft-minor-g7-trap")
    write(Seq(Row(9L, 1L)), schema2, s"$root/inserts/batch=0")
    write(Seq.empty[Row], schema1, s"$root/deletes/batch=0")
    write(Seq(Row(10L, 2L)), schema2, s"$root/inserts/batch=1")
    write(Seq.empty[Row], schema1, s"$root/deletes/batch=1")
    assert(CdcStream.morMinorCompact(spark, root, foldK = 1) == 0L)
    assert(CdcStream.currentMinor(root).get._1.endsWith("minor-g0"))
    assert(CdcStream.morMinorCompact(spark, root, foldK = 1) == 1L)
    assert(CdcStream.currentMinor(root).get._1.endsWith("minor-g1"),
      "second fold must advance to g1 (basename parse, not path split)")
  }

  test("IVM view state is O(groups) per version and survives a mid-flight " +
      "crash: replay converges to the from-scratch re-aggregation") {
    val log = graft.sources.Ingest.mergeChangelogShowcase(spark, sf0001)
      .localCheckpoint(true)
    val staged = Paths.get(OneShot.tempDir("graft-ivm-src"))
    val t0 = System.currentTimeMillis() - 60000L
    (0 until 4).foreach { i =>
      stageChunk(log.filter(pmod(col("o_orderkey"), lit(4)) === i),
        staged, s"c$i.parquet", t0 + i * 10000L)
    }
    val nSeg = CdcStream.NIvmSegments
    val base = OneShot.tempDir("graft-ivm-base")
    Tables.orders(spark, sf0001)
      .groupBy(pmod(col("o_orderkey"), lit(nSeg)).as("segment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("total_cents"))
      .coalesce(1).write.mode("overwrite").parquet(base)
    val aggRoot = OneShot.tempDir("graft-ivm-state")
    val ckpt = OneShot.tempDir("graft-ivm-ckpt")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[StreamingQueryException] {
      CdcStream.runIvm(spark, staged.toString, base, aggRoot, ckpt,
        crashAt = 2L, crashed = crashed)
    }
    assert(Files.exists(Paths.get(ckpt, "commits", "1")))
    assert(!Files.exists(Paths.get(ckpt, "commits", "2")))
    CdcStream.runIvm(spark, staged.toString, base, aggRoot, ckpt,
      crashAt = 2L, crashed = crashed)

    // O(groups): every version holds at most nSeg rows
    (0 until 4).foreach { v =>
      val n = spark.read.parquet(s"$aggRoot/v=$v").count()
      assert(n <= nSeg, s"v=$v carries $n rows — state is not O(groups)")
    }
    // exactly-once: the final view == the composed table re-aggregated
    val got = spark.read.parquet(s"$aggRoot/v=3")
      .filter(col("n_rows") > 0)
      .orderBy("segment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val orders = Tables.orders(spark, sf0001)
    val updates = orders.filter(col("o_orderkey") % 500 === 0)
      .withColumn("o_totalprice",
        expr("CAST(round(o_totalprice * 100) AS BIGINT) * 11 div 10") / 100.0)
    val inserts = updates.withColumn("o_orderkey", -(col("o_orderkey") + 1))
    val dels = orders
      .filter(col("o_orderkey") % 700 === 0 && col("o_orderkey") % 500 =!= 0)
      .select(col("o_orderkey"))
    val want = graft.sources.Ingest.deleteByKey(
        graft.sources.Ingest.upsert(orders, updates.unionByName(inserts),
          "o_orderkey"), dels, "o_orderkey")
      .groupBy(pmod(col("o_orderkey"), lit(nSeg)).as("segment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("total_cents"))
      .orderBy("segment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.sameElements(want),
      s"IVM view ${got.toSeq} != recompute ${want.toSeq}")
  }
}
