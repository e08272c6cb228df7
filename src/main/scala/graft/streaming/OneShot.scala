package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one-shot run every declared streamed row goes through: the plan
  * drains its source once under `Trigger.AvailableNow`, with a small
  * state-store width and an ephemeral checkpoint, and the session conf
  * is restored afterwards. Two legs share it: [[memorySink]] for rows
  * whose result is the memory sink's table, [[foreachBatch]] for loops
  * whose batch function writes its own output. Every scratch directory
  * the rows make ([[tempDir]], checkpoints, [[stageFixture]] copies) is
  * deleted at JVM exit.
  */
object OneShot {

  /** Stateful streaming cost tracks the state-store count, which Spark
    * sizes from `spark.sql.shuffle.partitions` when the query starts:
    * one store (x4 for a stream-stream join) per partition, each with
    * its own checkpoint directory and maintenance thread. The declared
    * rows run the fixtures through a handful of keys, so every run pins
    * this width (the measured optimum on every streamed row,
    * OPTIMIZATION_r14.md item 11) and restores the session default
    * after. A production job sets the same knob per stream from its key
    * cardinality and executor count, not from the batch engine's
    * shuffle width.
    */
  private val StreamPartitions = 4

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Memory-sink leg: run `plan` once into a memory sink named after
    * `tag` under output `mode`, then bind `finish(sinkTable)` and drop
    * the sink's temp view, so repeated invocations never accumulate
    * driver-resident tables. `finish` runs after the session conf is
    * restored. The last progress's state-store row count is recorded in
    * [[lastCompleteStateRows]] under `tag`.
    *
    * `noData = false` skips the trailing no-data micro-batch, which is
    * safe ONLY for plans whose emission does not wait on the watermark:
    * update/complete-mode sinks, stateless appends and INNER stream
    * joins (rows emit in the data batch that produced them).
    * Append-mode watermark-gated plans (outer joins, event-time
    * timeouts, session windows) MUST keep it: their final rows only
    * surface in that batch.
    */
  def memorySink(spark: SparkSession, tag: String, mode: String,
      noData: Boolean)(plan: => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    val name = s"graft_${tag}_stream_${runSeq.incrementAndGet()}"
    try {
      withStreamPartitions(spark, noData) {
        val q = plan.writeStream.format("memory").queryName(name)
          .outputMode(mode)
          .option("checkpointLocation", ckptDir(s"graft-ckpt-$tag"))
          .trigger(Trigger.AvailableNow())
          .start()
        await(q)
        recordCompleteStateRows(tag, q)
      }
      val out = finish(spark.table(name))
      out.queryExecution.assertAnalyzed()
      out
    } finally spark.catalog.dropTempView(name)
  }

  /** foreachBatch leg: drain the configured `writer` once, checkpointed
    * at `ckpt`. Its batch function owns the output, so the trailing
    * no-data micro-batch is always skipped.
    */
  def foreachBatch(spark: SparkSession, ckpt: String,
      writer: => DataStreamWriter[Row]): Unit =
    withStreamPartitions(spark, noData = false) {
      await(writer.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start())
    }

  /** A failed run surfaces its error from `awaitTermination`; the stop
    * makes sure no query outlives the call either way.
    */
  private def await(q: StreamingQuery): Unit =
    try q.awaitTermination() finally q.stop()

  private def withStreamPartitions[T](spark: SparkSession,
      noData: Boolean)(f: => T): T = {
    val pKey = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevP = spark.conf.get(pKey)
    val prevNd = spark.conf.get(ndKey)
    spark.conf.set(pKey, StreamPartitions.toString)
    spark.conf.set(ndKey, noData.toString)
    try f finally {
      spark.conf.set(pKey, prevP)
      spark.conf.set(ndKey, prevNd)
    }
  }

  /** State-store row counts of each tag's last run — recorded so
    * EventStreamSpec can PIN the design claim that the complete-mode
    * monitors' state is rollup-bounded (|days| / |days|×bins rows of
    * integer moments), never |events|-proportional.
    */
  private[graft] val lastCompleteStateRows =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def recordCompleteStateRows(tag: String, q: StreamingQuery): Unit = {
    val p = q.lastProgress
    if (p != null && p.stateOperators != null)
      lastCompleteStateRows.put(tag, p.stateOperators.map(_.numRowsTotal).sum)
  }

  /** Directories registered for recursive deletion at JVM exit: the
    * one-shot runs' checkpoints, foreachBatch result sinks, stagings.
    * Repeated invocations accumulate disk for the life of the process,
    * not of the machine; eager deletion is impossible because the
    * returned DataFrames read these directories lazily.
    */
  private[graft] val exitCleanup =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      exitCleanup.forEach { d =>
        try {
          Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { Files.deleteIfExists(p); () })
        } catch { case _: Exception => () }
      }
    }, "graft-stream-tmp-cleanup"))

  private def cleanupOnExit(p: Path): String = {
    cleanupHook
    exitCleanup.add(p)
    p.toString
  }

  /** A fresh directory under `java.io.tmpdir`, deleted at JVM exit. */
  private[graft] def tempDir(prefix: String): String =
    cleanupOnExit(Files.createTempDirectory(prefix))

  /** A fresh checkpoint directory, on tmpfs when the platform has it.
    * The offset/commit WAL and per-partition state-store commits are
    * fsync-bound and dominate the fixed cost of a seconds-long run;
    * these checkpoints are ephemeral by construction (fresh dir per
    * run, state is KBs), so RAM-backed files lose nothing. A production
    * job supplies its own durable checkpointLocation instead.
    */
  private[streaming] def ckptDir(prefix: String): String = {
    val shm = Paths.get("/dev/shm")
    val base =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    cleanupOnExit(Files.createTempDirectory(base, prefix))
  }

  /** The file stream source tails a DIRECTORY: stage the fixture file
    * `dir/file` into a fresh one, memoized per (session, dataset) under
    * `<stem>-stream-dir`. A fixture already stored as a directory is
    * tailed in place and never registered for deletion (it is the
    * dataset itself). `twice` stages two identical copies instead
    * (`<stem>-stream-dup-dir`), so every row arrives as a genuine
    * duplicate pair.
    */
  private[graft] def stageFixture(spark: SparkSession, dir: String,
      file: String, twice: Boolean = false): String = {
    val src = Paths.get(dir, file)
    val stem = file.stripSuffix(".parquet")
    val family = if (twice) s"$stem-stream-dup-dir" else s"$stem-stream-dir"
    graft.IndexCache.getOrBuild(spark, family, dir) {
      if (!twice && Files.isDirectory(src)) src.toString
      else {
        val d = Paths.get(
          tempDir(if (twice) s"graft-$stem-dup" else s"graft-$stem-stream"))
        Files.copy(src, d.resolve(file))
        if (twice) Files.copy(src, d.resolve(s"${stem}_dup.parquet"))
        d.toString
      }
    }
  }
}
