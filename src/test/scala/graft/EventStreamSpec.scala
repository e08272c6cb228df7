package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.EventOps
import graft.streaming.EventStream
import graft.streaming.EventStream.Ev

/** Structured Streaming parity: the streaming plans must produce the
  * batch answers once all data is consumed (same code path for windows,
  * keyed-state path for sessions).
  */
class EventStreamSpec extends SparkSpec {

  test("streaming tumbling agg over the file source equals the batch result") {
    // file stream source tails a directory; stage the fixture file into one
    val dir = java.nio.file.Paths.get(graft.streaming.OneShot.tempDir("graft-events"))
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStream.windowedAgg(
        EventStream.readEventsStream(spark, dir.toString), "10 minutes", None)
      .writeStream.format("memory").queryName("tumbling_stream")
      .outputMode("complete")
      .option("checkpointLocation",
        graft.streaming.OneShot.tempDir("graft-ckpt-t"))
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val stream = spark.table("tumbling_stream")
      .orderBy("w_start", "event_type").collect()
    val batch = EventOps.tumbling(spark, sf0001)
      .orderBy("w_start", "event_type").collect()
    assert(stream.length == batch.length)
    assert(stream.sameElements(batch))
  }

  test("rate-source synthetic stream: windowed agg equals its batch twin") {
    // one deterministic micro-batch from the rate-micro-batch source
    val q = EventStream.windowedAgg(
        EventStream.readSyntheticEventsStream(spark, rowsPerBatch = 1000),
        "10 minutes", None)
      .writeStream.format("memory").queryName("rate_agg_stream")
      .outputMode("complete")
      .option("checkpointLocation",
        graft.streaming.OneShot.tempDir("graft-ckpt-rate"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try { q.awaitTermination(60000) } finally { q.stop() }
    val stream = spark.table("rate_agg_stream")
      .orderBy("w_start", "event_type").collect()
    // the batch twin: identical rows from spark.range via the same shaping
    val batch = EventOps.windowedAgg(
        EventStream.shapeSyntheticEvents(
          spark.range(1000).toDF("value"), 1700000000000L),
        "10 minutes", None)
      .orderBy("w_start", "event_type").collect()
    assert(stream.nonEmpty && stream.length == batch.length)
    assert(stream.sameElements(batch))
  }

  test("streaming sessionization equals the batch lag/prefix-sum sessions") {
    import spark.implicits._
    val evs = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev].collect().toSeq
    val maxTs = evs.map(_.ts.getTime).max

    val source = MemoryStream[Ev](spark, numPartitions = 1)
    val q = EventStream.sessionize(source.toDS())
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append")
      .option("checkpointLocation",
        graft.streaming.OneShot.tempDir("graft-ckpt-s"))
      .start()
    def sentinel(off: Long) = Ev(9000000L + off,
      new java.sql.Timestamp(maxTs + off * 3600L * 1000), 999999L, "x", 0.0)
    try {
      source.addData(evs: _*); q.processAllAvailable()
      source.addData(sentinel(2)); q.processAllAvailable() // advance watermark
      source.addData(sentinel(4)); q.processAllAvailable() // fire timeouts
    } finally q.stop()

    val streamed = spark.table("sessions_stream")
      .filter(col("user_id") =!= 999999L)
      .select("user_id", "session_start_us", "n_events", "sum_value")
      .orderBy("user_id", "session_start_us").collect()
    val batch = EventOps.sessions(spark, sf0001)
      .select("user_id", "session_start_us", "n_events", "sum_value")
      .orderBy("user_id", "session_start_us").collect()
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} vs batch ${batch.length} sessions")
    assert(streamed.sameElements(batch))
  }

  test("streaming top-k leaderboard converges to the batch top-k over 3 batches") {
    import spark.implicits._
    val evs = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev].collect().toSeq
    val chunks = evs.grouped((evs.length + 2) / 3).toSeq // 3 micro-batches
    val source = MemoryStream[Ev](spark, numPartitions = 2)
    val q = EventStream.streamTopKAmounts(source.toDS(), k = 5)
      .writeStream.format("memory").queryName("topk_stream")
      .outputMode("update")
      .option("checkpointLocation",
        graft.streaming.OneShot.tempDir("graft-ckpt-topk"))
      .start()
    try {
      chunks.foreach { c => source.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()

    // final standing per key = its rows at max(upd); earlier emissions are
    // intermediate leaderboards (each must itself be sorted and ≤ k long)
    val all = spark.table("topk_stream")
    val interim = all.groupBy("event_type", "upd").count().collect()
    assert(interim.forall(_.getLong(2) <= 5))
    val finalStanding = all
      .withColumn("mx", max(col("upd")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .filter(col("upd") === col("mx"))
      .select("event_type", "event_id", "value", "rk")
      .orderBy("event_type", "rk").collect()
    val batch = EventOps.topAmounts(spark, sf0001, k = 5)
      .select("event_type", "event_id", "value", "rk")
      .orderBy("event_type", "rk").collect()
    assert(finalStanding.length == batch.length,
      s"stream ${finalStanding.length} vs batch ${batch.length} rows")
    assert(finalStanding.sameElements(batch))
  }

  test("declared streaming-executed leaderboard equals the batch top-k") {
    val streamed = EventStream.topAmountsStreamed(spark, sf0001)
      .orderBy("event_type", "rk").collect()
    val batch = EventOps.topAmounts(spark, sf0001, k = 5)
      .select("event_type", "event_id", "value", "rk")
      .orderBy("event_type", "rk").collect()
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} vs batch ${batch.length} rows")
    assert(streamed.sameElements(batch))
    // and a second invocation (fresh stream run) is stable
    val again = EventStream.topAmountsStreamed(spark, sf0001)
      .orderBy("event_type", "rk").collect()
    assert(again.sameElements(batch))
  }

  test("declared streaming-executed sessionization equals the batch sessions") {
    val streamed = EventStream.sessionsNativeStreamed(spark, sf0001)
      .orderBy("user_id", "session_start_us").collect()
    val batch = EventOps.sessionsNative(spark, sf0001)
      .orderBy("user_id", "session_start_us").collect()
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} vs batch ${batch.length} sessions")
    assert(streamed.sameElements(batch))
    // repeatable: the staged dir and sentinel are cached per dataset
    val again = EventStream.sessionsNativeStreamed(spark, sf0001)
      .orderBy("user_id", "session_start_us").collect()
    assert(again.sameElements(batch))
  }

  test("declared streaming-executed dedup drops the doubled delivery exactly") {
    val streamed = EventStream.dedupStreamed(spark, sf0001)
      .orderBy("event_id").collect()
    val batch = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
      .orderBy("event_id").collect()
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} vs fixture ${batch.length} rows " +
        "(duplicates not dropped, or rows lost)")
    assert(streamed.sameElements(batch))
  }

  test("declared streaming-executed tumbling agg equals the batch result") {
    val streamed = EventStream.tumblingStreamed(spark, sf0001)
      .orderBy("w_start", "event_type").collect()
    val batch = EventOps.tumbling(spark, sf0001)
      .orderBy("w_start", "event_type").collect()
    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))
  }

  test("streamed KMV sketch equals the batch sketch bit-for-bit") {
    val streamed = EventStream.sketchUsersStreamed(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val batch = graft.operators.TextOps.sketchDistinctUsers(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed $streamed\nvs batch $batch")
  }

  test("streamed incremental dedup equals the batch miner exactly") {
    val batch = graft.operators.Dedup.incrementalMinhashPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = graft.streaming.CorpusStream
      .incrementalMinhashStreamed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must yield incremental pairs")
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size} pairs")
  }

  test("streamed range search equals the batch range search exactly") {
    val batch = graft.knn.ExactKnn.rangeSearch(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = graft.streaming.VectorStream.rangeSearchStreamed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size} matches")
  }

  test("streamed k-means assignment equals the batch assignment exactly") {
    val batch = graft.operators.EmbeddingStats.kmeansAssignments(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val streamed = graft.streaming.VectorStream
      .kmeansAssignStreamed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size} assignments")
  }

  test("streamed quality scoring equals the batch projection exactly") {
    val batch = graft.operators.TextOps.qualityScores(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    val streamed = graft.streaming.CorpusStream
      .qualityScoresStreamed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size} rows")
  }

  test("streamed expectations monitor equals the batch check sheet") {
    val batch = graft.streaming.EventStream
      .eventsExpectations(Tables.events(spark, sf0001)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val streamed = graft.streaming.EventStream
      .expectationsStreamed(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // the value-band check must actually flag the fixture's tail —
    // an all-green sheet would leave the counting path unexercised
    val bandRow = streamed.find(_._1 == "events.value in [0,250]").get
    assert(bandRow._3 > 0 && bandRow._4 == 0, bandRow.toString)
    assert(streamed.count(_._4 == 1) == 3, streamed.toString)
  }

  test("streamed mSPRT monitor equals the batch always-valid chain") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))
    val batch = graft.operators.EventOps.msprtMonitor(spark, sf0001)
      .collect().map(key).toSet
    val streamed = graft.streaming.EventStream
      .msprtMonitorStreamed(spark, sf0001).collect().map(key).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size} rows")
    // the always-valid p must be monotone non-increasing over days
    val ps = streamed.toSeq.sortBy(_._1).map(_._6)
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a },
      s"p_always_valid not monotone: $ps")
  }

  test("streamed daily PSI drift equals the batch chain") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val batch = graft.operators.Stats.psiDriftDaily(spark, sf0001)
      .collect().map(key).toSet
    val streamed = graft.streaming.EventStream
      .psiDriftStreamed(spark, sf0001).collect().map(key).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size} rows")
  }

  test("complete-mode monitor state is rollup-bounded, never |events|-proportional") {
    // the design claim behind running always-on monitors in complete
    // mode: the streaming state holds the ROLLUP (|days| rows for
    // mSPRT, <=|days|x bins cells for PSI), so it never grows with the
    // event volume. Pin the recorded state-store row counts of the two
    // monitors' last runs to exactly the batch rollup cardinality.
    graft.streaming.EventStream.msprtMonitorStreamed(spark, sf0001).collect()
    graft.streaming.EventStream.psiDriftStreamed(spark, sf0001).collect()
    val events = Tables.events(spark, sf0001)
    val nEvents = events.count()
    val days = graft.operators.EventOps.msprtDaily(events).count()
    val cells = graft.operators.Stats.psiDailyCells(events).count()
    val msprtState = graft.streaming.EventStream
      .lastCompleteStateRows.get("msprt")
    val psiState = graft.streaming.EventStream
      .lastCompleteStateRows.get("psidrift")
    assert(msprtState == days,
      s"mSPRT state $msprtState != |days| $days")
    assert(psiState == cells,
      s"PSI state $psiState != |day x bin cells| $cells")
    assert(msprtState < nEvents / 10 && psiState < nEvents / 10,
      s"monitor state tracks event volume: $msprtState/$psiState of $nEvents")
  }

  test("tumbling window state EVICTS once the watermark passes the window") {
    import spark.implicits._
    def ev(id: Long, offMin: Long, uid: Long) =
      Ev(id, new java.sql.Timestamp(1700000000000L + offMin * 60000L),
        uid, "click", 1.0)
    val source = MemoryStream[Ev](spark, numPartitions = 1)
    val q = EventStream.windowedAgg(source.toDS().toDF())
      .writeStream.format("memory").queryName("evict_stream")
      .outputMode("append")
      .option("checkpointLocation",
        graft.streaming.OneShot.tempDir("graft-ckpt-evict"))
      .start()
    try {
      source.addData(ev(1, 0, 1L), ev(2, 5, 2L)) // one 10-min window
      q.processAllAvailable()
      // advance event time far past window end + 30-min watermark:
      // the closed window must EMIT and its state row must LEAVE the
      // store — eviction, not accumulation, is what keeps windowed
      // state O(open windows) on an unbounded stream
      source.addData(ev(3, 10000, 3L))
      q.processAllAvailable()
      source.addData(ev(4, 10001, 3L)) // one more batch to flush
      q.processAllAvailable()
      val removed = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsRemoved).sum
      assert(removed >= 1L,
        s"closed window never evicted from the state store ($removed)")
      val live = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(live <= 2L, s"state holds closed windows: $live rows")
    } finally q.stop()
    assert(spark.table("evict_stream")
      .filter(col("n") === 2L).count() == 1L) // the closed window emitted
    spark.catalog.dropTempView("evict_stream")
  }

  test("streamed HNSW serving equals the batch scatter-gather exactly") {
    val batch = graft.knn.HnswKnn.topKBatch(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val before = graft.streaming.VectorStream.scatterGatherBatches.get()
    val streamed = graft.streaming.VectorStream.hnswTopKStreamed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size} rows")
    // the serving path is the DISTRIBUTED one: every micro-batch went
    // through HnswKnn.searchIndex against the placed shard partitions —
    // no driver-side graph materialization path exists (r6 verdict #3)
    assert(graft.streaming.VectorStream.scatterGatherBatches.get() > before,
      "streamed serving did not run through the scatter-gather path")
  }

  test("file sink resumes from checkpoint without reprocessing old files") {
    val src = graft.streaming.OneShot.tempDir("graft-ss-src")
    val sink = graft.streaming.OneShot.tempDir("graft-ss-sink") + "/out"
    val ckpt = graft.streaming.OneShot.tempDir("graft-ss-ckpt")
    val ev = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "value")
    val n = ev.count()
    ev.write.parquet(s"$src/batch1")

    def start() = spark.readStream
      .schema(ev.schema).option("recursiveFileLookup", "true").parquet(src)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt).start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(sink).count() == n)

    // second batch lands while the query is DOWN; restart from checkpoint
    ev.withColumn("event_id", col("event_id") + 1000000L)
      .write.parquet(s"$src/batch2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(sink)
    assert(out.count() == 2 * n, "restart must process exactly the new files")
    assert(out.select("event_id").distinct().count() == 2 * n,
      "no row may be duplicated across the restart")
  }

  test("stream-stream interval join equals the batch error-click pairing") {
    import spark.implicits._
    val evs = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev].collect().toSeq
    val source = MemoryStream[Ev](spark, numPartitions = 1)
    val q = EventStream.streamErrorClickWithin(source.toDF())
      .writeStream.format("memory").queryName("ssjoin_stream")
      .outputMode("append")
      .option("checkpointLocation",
        graft.streaming.OneShot.tempDir("graft-ckpt-j"))
      .start()
    try { source.addData(evs: _*); q.processAllAvailable() } finally q.stop()

    val ev = Tables.events(spark, sf0001)
    val errs = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        unix_micros(col("ts")).as("eus"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        unix_micros(col("ts")).as("cus"))
    val batch = errs.join(clicks, col("user_id") === col("cu") &&
        abs(col("eus") - col("cus")) <= 300L * 1000000L)
      .select(col("user_id"), col("err_id"), col("click_id"),
        abs(col("eus") - col("cus")).as("gap_us"))
      .orderBy("user_id", "err_id", "click_id").collect()
    val streamed = spark.table("ssjoin_stream")
      .orderBy("user_id", "err_id", "click_id").collect()
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} vs batch ${batch.length} pairs")
    assert(streamed.sameElements(batch))
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    import spark.implicits._
    val evs = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev].collect().toSeq.take(200)
    val source = MemoryStream[Ev](spark, numPartitions = 1)
    val q = EventStream.dedupEvents(source.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .option("checkpointLocation",
        graft.streaming.OneShot.tempDir("graft-ckpt-d"))
      .start()
    try {
      source.addData(evs: _*); q.processAllAvailable()
      source.addData(evs: _*); q.processAllAvailable() // exact re-delivery
    } finally q.stop()
    val n = spark.table("dedup_stream").count()
    assert(n == evs.map(_.event_id).distinct.length,
      s"expected one row per event_id, got $n")
  }

  test("streaming session_window equals the batch native sessions") {
    import spark.implicits._
    val evs = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev].collect().toSeq
    val maxTs = evs.map(_.ts.getTime).max
    val source = MemoryStream[Ev](spark, numPartitions = 1)
    val q = EventStream.sessionWindowAgg(source.toDF())
      .writeStream.format("memory").queryName("swin_stream")
      .outputMode("append")
      .option("checkpointLocation",
        graft.streaming.OneShot.tempDir("graft-ckpt-sw"))
      .start()
    def sentinel(off: Long) = Ev(9100000L + off,
      new java.sql.Timestamp(maxTs + off * 3600L * 1000), 999999L, "x", 0.0)
    try {
      source.addData(evs: _*); q.processAllAvailable()
      source.addData(sentinel(2)); q.processAllAvailable() // advance watermark
      source.addData(sentinel(4)); q.processAllAvailable() // close sessions
    } finally q.stop()
    val streamed = spark.table("swin_stream")
      .filter(col("user_id") =!= 999999L)
      .orderBy("user_id", "session_start_us").collect()
    val batch = graft.operators.EventOps.sessionsNative(spark, sf0001)
      .orderBy("user_id", "session_start_us").collect()
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} vs batch ${batch.length} sessions")
    assert(streamed.sameElements(batch))
  }

  test("foreachBatch upsert sink merges micro-batches into the parquet target") {
    import spark.implicits._
    val target = graft.streaming.OneShot.tempDir("graft-up-sink") + "/table"
    val ckpt = graft.streaming.OneShot.tempDir("graft-up-ckpt")
    val source = MemoryStream[Ev](spark, numPartitions = 1)
    def ev(id: Long, v: Double) =
      Ev(id, new java.sql.Timestamp(1700000000000L + id), id % 3, "click", v)
    val q = EventStream.upsertSink(source.toDF(), target, "event_id", ckpt)
    try {
      source.addData(ev(1, 1.0), ev(2, 2.0), ev(3, 3.0))
      q.processAllAvailable()
      assert(spark.read.parquet(target).count() == 3)
      // batch 2: update key 2 (including an in-batch re-delivery that
      // must collapse before the merge) and insert key 4
      source.addData(ev(2, 20.0), ev(2, 25.0), ev(4, 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(target)
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 1.0, 2L -> 25.0, 3L -> 3.0, 4L -> 4.0),
      s"got $out")
  }

  test("streamed stream-static enrichment equals the batch join+agg") {
    val streamed = EventStream.enrichedStreamed(spark, sf0001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val ev = Tables.events(spark, sf0001)
    val cohorts = ev.groupBy(col("user_id"))
      .agg(date_format(min(to_date(col("ts"))), "yyyy-MM-dd").as("cohort"))
    val batch = ev.join(cohorts, "user_id")
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n"),
        (sum(graft.functions.ExactNum.cents(col("value"))) / 100.0)
          .as("sum_value"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed=${streamed.size} batch=${batch.size}")
  }

  test("streamed stream-stream interval join equals the batch join") {
    val streamed = EventStream.intervalJoinStreamed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // the same plan over the batch frame (watermarks are no-ops in batch)
    val batch = EventStream.streamErrorClickWithin(
        Tables.events(spark, sf0001), withinMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(batch.nonEmpty, "fixture has no error-click pairs within 30min?")
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("streamed LEFT OUTER interval join equals the batch left join") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    val streamed = EventStream.intervalOuterStreamed(spark, sf0001)
      .collect().map(key).toSet
    // same plan over the batch frame (watermarks are no-ops in batch)
    val batch = EventStream.streamErrorClickLeftOuter(
        Tables.events(spark, sf0001), withinMinutes = 30)
      .collect().map(key).toSet
    val unmatched = batch.filter(_._3.isEmpty)
    assert(unmatched.nonEmpty,
      "fixture has no error without a click within 30min? outer adds nothing")
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    // the null-padded rows really came from state-store eviction
    assert(streamed.filter(_._3.isEmpty) == unmatched)
  }

  test("streamed FULL OUTER interval join equals the batch full join") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    val streamed = EventStream.intervalFullStreamed(spark, sf0001)
      .collect().map(key).toSet
    val batch = EventStream.streamErrorClickFullOuter(
        Tables.events(spark, sf0001), withinMinutes = 30)
      .collect().map(key).toSet
    // both eviction paths must do work: unmatched errors (null click)
    // AND unmatched clicks (null error)
    assert(batch.exists(r => r._2.nonEmpty && r._3.isEmpty),
      "no unmatched error in fixture")
    assert(batch.exists(r => r._2.isEmpty && r._3.nonEmpty),
      "no unmatched click in fixture")
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("streamed CMS heavy hitters equal the batch sketch row for row") {
    val streamed = EventStream.cmsHeavyHittersStreamed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = graft.operators.TextOps.cmsHeavyHitters(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      s"streamed=${streamed.take(3).toSeq} batch=${batch.take(3).toSeq}")
    // the sketch did real work: estimates upper-bound exact counts
    streamed.foreach { case (_, est, exact) => assert(est >= exact) }
  }

  test("streamed EWMA equals the batch sorted-fold") {
    val streamed = EventStream.ewmaStreamed(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.EventOps.ewma(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("streamed attribution equals the batch two-register walk") {
    val streamed = EventStream.attributionStreamed(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = graft.operators.EventOps.attribution(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("kafka wire contract: shaping a kafka-schema frame yields the " +
      "events schema and values the file source would produce") {
    // broker-free: build a static frame with Spark's published Kafka
    // source output schema, payloads as the JSON the configured reader
    // parses, and run it through the EXACT select
    // readEventsStreamConfigured applies on its kafka leg
    import java.sql.Timestamp
    val rows = Seq(
      (101L, 1700000000000000L, 7L, "click", 12.34),
      (102L, 1700000000500000L, 8L, "error", -0.5))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case ((id, us, uid, typ, v), i) =>
        val json = s"""{"event_id":$id,"ts_us":$us,"user_id":$uid,""" +
          s""""event_type":"$typ","value":$v}"""
        org.apache.spark.sql.Row(s"k$id".getBytes("UTF-8"), json.getBytes("UTF-8"),
          "events", 0, i.toLong, new Timestamp(1700000001000L), 0)
      }), EventStream.kafkaWireSchema)
    val shaped = EventStream.shapeKafkaEvents(wire)
    // schema contract: the five columns every downstream plan selects,
    // with the file-source types (µs-precision timestamp included)
    val fileSide = graft.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    assert(shaped.schema == fileSide.schema,
      s"kafka=${shaped.schema.treeString}\nfile=${fileSide.schema.treeString}")
    val got = shaped.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getDouble(4)))
    assert(got.toSet == rows.map(t => (t._1, t._3, t._4, t._5)).toSet)
    val us = shaped.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSet
    assert(us == rows.map(_._2).toSet, s"microseconds mangled: $us")
    // and the config switch routes: non-kafka stays on the file source
    assert(spark.conf.getOption("spark.graft.stream.format").isEmpty)
  }

  test("watermark discipline: late rows are dropped, COUNTED in the " +
      "progress metrics, and the sink stays correct") {
    import spark.implicits._
    // an hour-gapped session stream: batch 1 delivers two on-time
    // events; batch 2's far-future sentinel advances the watermark past
    // them; batch 3 delivers a LATE event (behind the watermark) that
    // a correct engine must drop — and report dropping
    val t0 = 1700000000000L
    def ev(id: Long, offMin: Long, uid: Long) =
      Ev(id, new java.sql.Timestamp(t0 + offMin * 60000L), uid, "click", 1.0)
    val source = MemoryStream[Ev](spark, numPartitions = 1)
    val q = EventStream.sessionWindowAgg(source.toDS().toDF(),
        "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("late_drop_stream")
      .outputMode("append")
      .option("checkpointLocation",
        graft.streaming.OneShot.tempDir("graft-ckpt-late"))
      .start()
    try {
      source.addData(ev(1, 0, 7L), ev(2, 5, 7L))
      q.processAllAvailable()
      source.addData(ev(99, 10000, 999999L)) // watermark -> far future
      q.processAllAvailable()
      source.addData(ev(3, 10, 7L)) // LATE: behind the watermark
      q.processAllAvailable()
      val dropped = q.lastProgress.stateOperators
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1L,
        s"expected exactly the late row dropped, metrics say $dropped")
    } finally q.stop()
    // the emitted session for user 7 contains ONLY the on-time events
    val rows = spark.table("late_drop_stream")
      .filter(col("user_id") === 7L)
      .select("n_events", "sum_value").collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 2L,
      s"late row leaked into the session: ${rows.head}")
    spark.catalog.dropTempView("late_drop_stream")
  }
}
