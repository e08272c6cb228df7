package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.EventOps

/** Structured Streaming surface over the events schema (SURVEY.md §2.11
  * — extension; the reference has no streaming). The window aggregations
  * reuse EventOps.windowedAgg unchanged — same code, batch or stream —
  * and sessionization runs as explicit keyed state with event-time
  * timeouts, the thing window functions cannot express incrementally.
  *
  * Scale notes: state is partitioned by the group key (user_id) across
  * executors; watermarks bound state size — expired windows/sessions are
  * evicted, so unbounded streams run in bounded memory. Late events past
  * the watermark are dropped identically to any Spark streaming job.
  */
object EventStream {

  /** Typed event row (events fixture schema, µs-truncated ts). */
  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** One closed session (same shape as EventOps.sessions output). */
  case class Session(user_id: Long, session_start_us: Long,
      n_events: Long, sum_value: Double)

  /** Keyed session state (public: Spark codegen instantiates it). */
  case class SessState(startUs: Long, lastUs: Long, n: Long, cents: Long)

  /** Watermarked tumbling/sliding aggregation on a STREAMING frame —
    * exactly the batch plan plus `withWatermark` (late data bound).
    */
  def windowedAgg(stream: DataFrame, width: String = "10 minutes",
      slide: Option[String] = None, watermark: String = "30 minutes"): DataFrame =
    EventOps.windowedAgg(stream.withWatermark("ts", watermark), width, slide)

  /** Streaming sessionization with a 30-minute inactivity gap, as keyed
    * state + event-time timeout (`flatMapGroupsWithState`): events extend
    * the open session; a gap or watermark timeout closes and emits it.
    * The batch analog is EventOps.sessions (lag/prefix-sum form).
    */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    // Timestamp.getTime is ms-precision; the events carry microseconds
    // (batch path compares unix_micros) — recover them from getNanos
    def micros(ts: Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    def close(uid: Long, s: SessState): Session =
      Session(uid, s.startUs, s.n, s.cents / 100.0)

    def update(uid: Long, rows: Iterator[Ev],
        state: GroupState[SessState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(uid, _)).iterator
        state.remove()
        return out
      }
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var cur = state.getOption
      val closed = Seq.newBuilder[Session]
      sorted.foreach { e =>
        val us = micros(e.ts)
        val cents = math.round(e.value * 100)
        cur match {
          case Some(s) if us - s.lastUs <= gapUs =>
            cur = Some(SessState(s.startUs, math.max(s.lastUs, us), s.n + 1, s.cents + cents))
          case Some(s) =>
            closed += close(uid, s)
            cur = Some(SessState(us, us, 1, cents))
          case None =>
            cur = Some(SessState(us, us, 1, cents))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // close the session once the event-time watermark passes its gap
        state.setTimeoutTimestamp(s.lastUs / 1000L + gapMinutes * 60L * 1000L)
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** One leaderboard row from [[streamTopKAmounts]]. `upd` is the
    * per-key state-update sequence number — on an unbounded stream the
    * leaderboard is re-emitted every batch (Update mode), so the current
    * standing for a key is its rows at `max(upd)`.
    */
  case class TopAmount(event_type: String, event_id: Long, value: Double,
      rk: Int, upd: Long)

  /** Bounded per-key top-k state: parallel (value, id) arrays kept
    * best-first, never longer than k.
    */
  case class TopKState(upd: Long, vals: Seq[Double], ids: Seq[Long])

  /** Running top-k highest-value events per event_type as keyed
    * streaming state (`flatMapGroupsWithState`, Update mode, no
    * timeout): each micro-batch folds its rows into a k-bounded
    * leaderboard and re-emits the key's current standing. State is O(k)
    * per key on unbounded input — the streaming analog of the
    * [[graft.plans.TopKPerGroup]] bounded heap; the batch twin (and
    * shared oracle) is [[graft.operators.EventOps.topAmounts]]. Ordering
    * matches the batch form exactly: value DESC, event_id ASC tie-break.
    */
  def streamTopKAmounts(events: Dataset[Ev], k: Int = 5): Dataset[TopAmount] = {
    import events.sparkSession.implicits._
    def update(typ: String, rows: Iterator[Ev],
        state: GroupState[TopKState]): Iterator[TopAmount] = {
      val prev = state.getOption.getOrElse(TopKState(0L, Nil, Nil))
      val merged = ((prev.vals zip prev.ids) ++ rows.map(e => (e.value, e.event_id)))
        .sortBy { case (v, id) => (-v, id) } // batch is tiny vs stream lifetime; state stays O(k)
        .take(k)
      val seq = prev.upd + 1
      state.update(TopKState(seq, merged.map(_._1), merged.map(_._2)))
      merged.iterator.zipWithIndex.map { case ((v, id), i) =>
        TopAmount(typ, id, v, i + 1, seq)
      }
    }
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** The declared STREAMING-EXECUTED leaderboard (shares
    * `events_topk_amounts`' oracle): the fixture events flow through the
    * file stream source -> [[streamTopKAmounts]]'s keyed state ->
    * a one-shot memory sink ([[OneShot.memorySink]]), and the returned
    * frame is each key's final standing (its rows at `max(upd)`) — so
    * the rows the driver hashes were produced by the streaming engine
    * itself, not a batch twin. Deterministic because the leaderboard
    * fold is order-insensitive (value DESC, event_id ASC total order)
    * regardless of how the source splits micro-batches.
    */
  def topAmountsStreamed(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val staged = OneShot.stageFixture(spark, dir, "events.parquet")
    OneShot.memorySink(spark, "topk", "update", noData = false)(
      streamTopKAmounts(
        readEventsStreamConfigured(spark, staged)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[Ev], k).toDF())(
      _.withColumn("mx", max(col("upd")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
        .filter(col("upd") === col("mx"))
        .select(col("event_type"), col("event_id"), col("value"), col("rk")))
  }

  /** The declared STREAMING-EXECUTED tumbling aggregation (shares
    * `events_tumbling`'s oracle): the fixture events flow through the
    * file stream source -> the SAME [[EventOps.windowedAgg]] plan the
    * batch row uses (plus a watermark) -> a complete-mode one-shot
    * memory sink. Complete mode re-emits the whole
    * standing result each micro-batch, so the sink table after the last
    * batch IS the full aggregation — the stateless-window sibling of
    * [[topAmountsStreamed]]'s keyed-state row.
    */
  def tumblingStreamed(spark: SparkSession, dir: String): DataFrame = {
    val staged = OneShot.stageFixture(spark, dir, "events.parquet")
    OneShot.memorySink(spark, "tumbling", "complete", noData = false)(
      windowedAgg(readEventsStreamConfigured(spark, staged), "10 minutes", None))(
      identity)
  }

  /** The declared STREAMING-EXECUTED KMV distinct sketch
    * (`sketch_users_streamed`, shares `sketch_users_per_type`'s
    * oracle): the per-type k-minimum-values sketch computed BY the
    * streaming engine — each micro-batch folds its rows into the
    * k-long state buffer and buffers MERGE across batches, which is
    * the "mergeable" in mergeable sketch proven by execution rather
    * than by unit test: the streamed estimate is bit-identical to the
    * batch one regardless of how the file source slices the input.
    * State per group is exactly the k-long array, not the user set —
    * the sketch IS the state-store entry, so distinct-counting a
    * 100 TB stream costs |groups|·k longs of state (the reason
    * `count(DISTINCT)` is unsupported in streaming but sketches are
    * the production answer). The exact yardstick column joins on
    * batch-side AFTER the stream completes (it is the audit, not the
    * streamed computation).
    */
  def sketchUsersStreamed(spark: SparkSession, dir: String,
      k: Int = 256): DataFrame = {
    val staged = OneShot.stageFixture(spark, dir, "events.parquet")
    val kmv = org.apache.spark.sql.functions.udaf(
      graft.functions.KmvDistinct(k))
    OneShot.memorySink(spark, "kmv", "complete", noData = false)(
      readEventsStreamConfigured(spark, staged)
        .select(col("event_type"),
          graft.operators.TextOps.polyHash(col("user_id").cast("string"))
            .as("h"))
        .groupBy(col("event_type"))
        .agg(round(kmv(col("h")), 6).as("kmv_estimate"))) { sink =>
      val exact = graft.Tables.events(spark, dir)
        .select(col("event_type"),
          graft.operators.TextOps.polyHash(col("user_id").cast("string"))
            .as("h"))
        .groupBy(col("event_type"))
        .agg(countDistinct(col("h")).as("exact_distinct"))
      sink.join(exact, "event_type")
        .select(col("event_type"), col("kmv_estimate"), col("exact_distinct"))
    }
  }

  /** The declared STREAMING-EXECUTED Count-Min heavy hitters
    * (`sketch_heavy_hitters_streamed`, shares the batch row's oracle):
    * the CMS register array is maintained BY the streaming engine as
    * ONE global-aggregate state entry (depth·width longs — the sketch
    * IS the state, the second mergeable-sketch family proven by
    * execution after KMV), folded per micro-batch and merged across
    * them; CMS is a commutative monoid of element-wise sums, so the
    * final registers are bit-identical to the batch sketch however the
    * file source slices the input. Point estimates + the exact
    * yardstick join happen batch-side AFTER the stream drains (the
    * audit, not the streamed computation — the KMV discipline).
    */
  def cmsHeavyHittersStreamed(spark: SparkSession, dir: String,
      depth: Int = 4, width: Int = 32768, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val staged = OneShot.stageFixture(spark, dir, "events.parquet")
    val cms = graft.functions.CountMin(depth, width)
    val cmsUdaf = org.apache.spark.sql.functions.udaf(cms)
    OneShot.memorySink(spark, "cms", "complete", noData = false)(
      readEventsStreamConfigured(spark, staged)
        .select(col("user_id").cast("long").as("k"))
        .agg(cmsUdaf(col("k")).as("sk"))) { sink =>
      val bc = spark.sparkContext.broadcast(
        sink.head().getSeq[Long](0).toArray)
      graft.Tables.events(spark, dir)
        .select(col("user_id").cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("exact_count"))
        .as[(Long, Long)]
        .map { case (k, c) => (k, cms.estimate(bc.value, k), c) }
        .toDF("user_id", "cms_estimate", "exact_count")
        .orderBy(col("cms_estimate").desc, col("user_id"))
        .limit(topK)
    }
  }

  /** The declared STREAMING-EXECUTED stream–static enrichment
    * (`events_enriched_streamed`): the event stream inner-joins a
    * STATIC cohort dimension (per-user first-seen day, computed
    * batch-side — the standard "enrich the stream with a dimension
    * table" pattern) and aggregates per cohort in complete mode. The
    * static side is planned as a broadcast join executed per
    * micro-batch — no stream-side state for the join at all, which is
    * exactly why stream–static is the preferred enrichment shape at
    * scale (the dimension re-broadcasts on change instead of living in
    * the state store). Oracle: the equivalent batch join+aggregate.
    */
  def enrichedStreamed(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactNum.cents
    val staged = OneShot.stageFixture(spark, dir, "events.parquet")
    val cohorts = graft.Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(date_format(min(to_date(col("ts"))), "yyyy-MM-dd").as("cohort"))
    OneShot.memorySink(spark, "enriched", "complete", noData = false)(
      readEventsStreamConfigured(spark, staged)
        .join(broadcast(cohorts), "user_id")
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("value"))) / 100.0).as("sum_value")))(identity)
  }

  /** The declared STREAMING-EXECUTED exact dedup (oracle: the events
    * table itself): the fixture is staged twice, so every event arrives
    * as a genuine duplicate pair through the file stream source and the
    * row must actually drop rows; [[dedupEvents]]' watermarked
    * `dropDuplicatesWithinWatermark` state emits each event_id's first
    * occurrence and drops the re-delivery — so the sink holding exactly
    * one copy of every event is the streaming engine's dedup state
    * under the driver's hash check (the at-least-once -> exactly-once
    * ingest pattern).
    */
  def dedupStreamed(spark: SparkSession, dir: String): DataFrame = {
    val staged = OneShot.stageFixture(spark, dir, "events.parquet", twice = true)
    OneShot.memorySink(spark, "dedup", "append", noData = false)(
      dedupEvents(readEventsStreamConfigured(spark, staged))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us")))(identity)
  }

  /** Stream-stream interval self-join: every 'error' event joined to the
    * same user's 'click' events within +/- `withinMinutes` (event-time
    * range condition over two watermarked sides of one stream). The
    * watermarks + time bounds let Spark evict both join buffers, so
    * state stays bounded on unbounded streams; the batch analog is
    * [[graft.operators.TemporalJoins.withinInterval]]'s cell join.
    * Output: (user_id, err_id, click_id, gap_us).
    */
  def streamErrorClickWithin(events: DataFrame, withinMinutes: Int = 5,
      watermark: String = "10 minutes"): DataFrame = {
    val errs = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    errs.join(clicks,
        col("err_user") === col("click_user") &&
          col("click_ts") >= col("err_ts") - expr(s"INTERVAL $withinMinutes MINUTE") &&
          col("click_ts") <= col("err_ts") + expr(s"INTERVAL $withinMinutes MINUTE"))
      .select(col("err_user").as("user_id"), col("err_id"), col("click_id"),
        abs(unix_micros(col("err_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
  }

  /** The declared STREAMING-EXECUTED stream-stream interval join
    * (oracle: the equivalent batch join SQL): the fixture events flow
    * through the file stream source into BOTH sides of
    * [[streamErrorClickWithin]] — two watermarked filtered projections
    * of one stream, joined on user_id with an event-time range
    * condition — and matches land in an append-mode one-shot memory
    * sink. The rows the driver hashes were emitted by the streaming
    * engine's symmetric-hash join state. Inner joins emit eagerly
    * on match, so the sink holds exactly the batch answer once the
    * source drains.
    */
  def intervalJoinStreamed(spark: SparkSession, dir: String,
      withinMinutes: Int = 30): DataFrame = {
    val staged = OneShot.stageFixture(spark, dir, "events.parquet")
    OneShot.memorySink(spark, "ivj", "append", noData = false)(
      streamErrorClickWithin(
        readEventsStreamConfigured(spark, staged), withinMinutes,
        watermark = "1 hour"))(identity)
  }

  /** [[streamErrorClickWithin]] as a LEFT OUTER stream-stream join:
    * errors with no click in the interval emit null-padded ONCE THE
    * WATERMARK PASSES their join horizon (Spark holds the left row in
    * state until no future click can match). gap_us is null exactly on
    * the unmatched rows.
    */
  def streamErrorClickLeftOuter(events: DataFrame, withinMinutes: Int = 30,
      watermark: String = "1 hour"): DataFrame = {
    val errs = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    errs.join(clicks,
        col("err_user") === col("click_user") &&
          col("click_ts") >= col("err_ts") - expr(s"INTERVAL $withinMinutes MINUTE") &&
          col("click_ts") <= col("err_ts") + expr(s"INTERVAL $withinMinutes MINUTE"),
        "left_outer")
      .select(col("err_user").as("user_id"), col("err_id"), col("click_id"),
        abs(unix_micros(col("err_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
  }

  /** Events plus TWO watermark sentinels (an 'error' for one phantom
    * user and a 'click' for another, a year past the fixture) — the
    * outer join's eviction clock: each side's watermark column only
    * sees rows surviving that side's type filter, so BOTH sides need a
    * sentinel or trailing unmatched rows would sit in join state
    * forever. Distinct phantom users keep the sentinels from matching
    * each other; their own rows are excluded after the sink.
    */
  private def stagedOuterEventsDir(spark: SparkSession, dir: String): String =
    graft.IndexCache.getOrBuild(spark, "events-stream-outer-dir", dir) {
      stageWithSentinels(spark, dir, "graft-events-outer", farUs => Seq(
        (-1L, farUs, -1L, "error", 0.0, "{}"),
        (-2L, farUs, -2L, "click", 0.0, "{}")))
    }

  /** Stage the fixture events NORMALIZED (µs TIMESTAMP, whatever the
    * fixture's physical vintage — legacy INT64-nanos or µs NTZ; see
    * [[graft.Tables.events]]) plus the given watermark sentinels (built
    * from the max event time in µs) into a fresh directory the file
    * stream source can tail. Writing through Spark rather than copying
    * the raw file keeps every staged file's timestamp type identical,
    * so the stream's inferred schema never mixes vintages.
    */
  private def stageWithSentinels(spark: SparkSession, dir: String,
      prefix: String,
      sentinels: Long => Seq[(Long, Long, Long, String, Double, String)])
      : String = {
    import spark.implicits._
    val d = java.nio.file.Paths.get(OneShot.tempDir(prefix))
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val maxUs = ev.agg(max(unix_micros(col("ts")))).as[Long].head()
    val farUs = maxUs + 365L * 24 * 3600 * 1000000L
    val sent = sentinels(farUs)
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    ev.union(sent).repartition(4)
      .write.parquet(d.resolve("events").toString)
    d.resolve("events").toString
  }

  /** Materialize both staged source directories (the shared events dir
    * and the sentinel-augmented outer-join dir) ahead of any streamed
    * query. Exists for the bench: staging is per-dataset one-time setup
    * (a parquet copy + sentinel write), so it is charged to its own
    * bench_build_* row and the eight streamed rows measure the
    * streaming engine, not file staging.
    */
  def prestageSources(spark: SparkSession, dir: String): Unit = {
    OneShot.stageFixture(spark, dir, "events.parquet")
    stagedOuterEventsDir(spark, dir)
    ()
  }

  /** The declared STREAMING-EXECUTED left-outer interval join (oracle:
    * the equivalent batch LEFT JOIN): same two watermarked sides as
    * [[intervalJoinStreamed]], but unmatched errors surface null-padded
    * from the join STATE STORE when the (sentinel-driven) watermark
    * passes their horizon — outer-eviction semantics themselves sit
    * under the driver's hash gate.
    */
  def intervalOuterStreamed(spark: SparkSession, dir: String,
      withinMinutes: Int = 30): DataFrame = {
    val staged = stagedOuterEventsDir(spark, dir)
    OneShot.memorySink(spark, "ivo", "append", noData = true)(
      streamErrorClickLeftOuter(
        readEventsStreamConfigured(spark, staged), withinMinutes,
        watermark = "1 hour"))(
      _.filter(col("user_id") >= 0))
  }

  /** [[streamErrorClickWithin]] as a FULL OUTER stream-stream join —
    * the last cell of the streamed join-mode matrix (inner, left
    * outer, full outer): unmatched rows from EITHER side surface
    * null-padded when their side's watermark passes the join horizon,
    * so both buffers evict and both eviction paths sit under the
    * gate. user_id coalesces across sides (exactly one side is
    * non-null on unmatched rows).
    */
  def streamErrorClickFullOuter(events: DataFrame, withinMinutes: Int = 30,
      watermark: String = "1 hour"): DataFrame = {
    val errs = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    errs.join(clicks,
        col("err_user") === col("click_user") &&
          col("click_ts") >= col("err_ts") - expr(s"INTERVAL $withinMinutes MINUTE") &&
          col("click_ts") <= col("err_ts") + expr(s"INTERVAL $withinMinutes MINUTE"),
        "full_outer")
      .select(coalesce(col("err_user"), col("click_user")).as("user_id"),
        col("err_id"), col("click_id"),
        abs(unix_micros(col("err_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
  }

  /** The declared STREAMING-EXECUTED full-outer interval join (oracle:
    * the equivalent batch FULL JOIN): unmatched errors AND unmatched
    * clicks each emit from their own side's join state on watermark
    * passage — both sentinel types in [[stagedOuterEventsDir]] now do
    * eviction work.
    */
  def intervalFullStreamed(spark: SparkSession, dir: String,
      withinMinutes: Int = 30): DataFrame = {
    val staged = stagedOuterEventsDir(spark, dir)
    OneShot.memorySink(spark, "ivf", "append", noData = true)(
      streamErrorClickFullOuter(
        readEventsStreamConfigured(spark, staged), withinMinutes,
        watermark = "1 hour"))(
      _.filter(col("user_id") >= 0))
  }

  /** Streaming exact dedup: duplicate event_ids arriving within the
    * watermark horizon are dropped and their keys evicted afterward —
    * the streaming half of the dedup suite (bounded state, unlike a
    * global dropDuplicates which would keep every key forever).
    */
  def dedupEvents(stream: DataFrame, watermark: String = "30 minutes"): DataFrame =
    stream.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streamable data-quality EXPECTATIONS over the event stream — the
    * LIVE release gate: the same named-check shape as
    * [[graft.operators.Expectations.suite]], restricted to the
    * checks whose state is a commutative conditional sum (so a
    * streaming global aggregate maintains them exactly; uniqueness /
    * referential checks need distinct state and stay batch-side). One
    * check deliberately FLAGS real fixture rows (the value band
    * [0, 250] — the long tail violates it), so the monitor's exact
    * violation counting is exercised, not just green lights. Output:
    * (check, n_checked, n_violations, passed).
    */
  def eventsExpectations(events: DataFrame): DataFrame = {
    val types = Seq("click", "view", "purchase", "error", "signup", "scroll")
    events.agg(
      count(lit(1)).as("n"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
      sum(when(col("ts").isNull, 1L).otherwise(0L)).as("null_ts"),
      sum(when(col("value") < 0.0 || col("value") > 250.0, 1L)
        .otherwise(0L)).as("bad_value"),
      sum(when(!col("event_type").isin(types: _*), 1L).otherwise(0L))
        .as("bad_type"))
      .select(explode(array(
        struct(lit("events.user_id complete").as("check"),
          col("n").as("n_checked"), col("null_user").as("n_violations")),
        struct(lit("events.ts complete").as("check"),
          col("n").as("n_checked"), col("null_ts").as("n_violations")),
        struct(lit("events.value in [0,250]").as("check"),
          col("n").as("n_checked"), col("bad_value").as("n_violations")),
        struct(lit("events.event_type in domain").as("check"),
          col("n").as("n_checked"), col("bad_type").as("n_violations"))))
        .as("r"))
      .select(col("r.*"))
      .withColumn("passed",
        when(col("n_violations") === 0L, 1).otherwise(0))
  }

  /** The declared STREAMING-EXECUTED expectations monitor (shares
    * `events_expectations`'s oracle): fixture events flow through the
    * file stream source into the SAME conditional-sum aggregate,
    * maintained by the streaming engine's global aggregation state in
    * complete mode — the sink table after the last micro-batch IS the
    * exact check sheet (commutative integer sums: any batch split
    * yields identical counts): a data-quality release gate running as
    * a live monitor.
    */
  def expectationsStreamed(spark: SparkSession, dir: String): DataFrame = {
    val staged = OneShot.stageFixture(spark, dir, "events.parquet")
    OneShot.memorySink(spark, "expect", "complete", noData = false)(
      eventsExpectations(readEventsStreamConfigured(spark, staged)))(
      _.select(col("check"), col("n_checked"), col("n_violations"),
        col("passed")))
  }

  /** The declared STREAMING-EXECUTED mSPRT always-valid monitor
    * (`events_msprt_monitor_streamed`, shares the batch row's oracle):
    * the per-day arm rollup — exact cent / DECIMAL(38,0) moment sums
    * per experiment day — is maintained BY the streaming engine as
    * complete-mode aggregation state (|days| rows of integer moments;
    * the sums are commutative monoids, so the state is bit-identical
    * to the batch rollup however the file source slices the input).
    * The cumulative mixture-likelihood Λ chain and the monotone
    * peeking-safe p run batch-side on the drained state — they READ
    * the |days|-bounded monitor relation, which is exactly how a live
    * experimentation dashboard consumes it: the stream keeps the
    * moments current; every look recomputes the always-valid p from
    * them, and the peeking guarantee is the statistic's, not the
    * scheduler's.
    */
  def msprtMonitorStreamed(spark: SparkSession, dir: String,
      tau2: Double = 100.0): DataFrame = {
    val staged = OneShot.stageFixture(spark, dir, "events.parquet")
    OneShot.memorySink(spark, "msprt", "complete", noData = false)(
      graft.operators.EventOps
        .msprtDaily(readEventsStreamConfigured(spark, staged)))(
      graft.operators.EventOps.msprtChain(_, tau2))
  }

  /** [[OneShot.lastCompleteStateRows]], where EventStreamSpec reads the
    * monitors' state-store row counts.
    */
  private[graft] def lastCompleteStateRows = OneShot.lastCompleteStateRows

  /** The declared STREAMING-EXECUTED day-over-day PSI drift monitor
    * (`stats_psi_drift_streamed`, shares the batch row's oracle): the
    * per-(day, bin) purchase-value cell counts are maintained BY the
    * streaming engine as complete-mode aggregation state (|days|×bins
    * integer rows — commutative sums, so the state is bit-identical to
    * the batch rollup however the file source slices the input); the
    * dense-grid shifted self-join and the smoothed micro-quantized PSI
    * sum run batch-side on the drained state, which is how a drift
    * dashboard consumes it: the stream keeps the histogram cells
    * current, every look recomputes the day-over-day index from them.
    */
  def psiDriftStreamed(spark: SparkSession, dir: String,
      bins: Int = 10): DataFrame = {
    val staged = OneShot.stageFixture(spark, dir, "events.parquet")
    OneShot.memorySink(spark, "psidrift", "complete", noData = false)(
      graft.operators.Stats
        .psiDailyCells(readEventsStreamConfigured(spark, staged), bins))(
      // localCheckpoint like the batch wrapper: the chain self-joins the
      // cell relation, so both sides need fresh attribute ids
      cells => graft.operators.Stats.psiDriftChain(
        cells.localCheckpoint(true), bins))
  }

  /** File-source streaming read over a DIRECTORY of events parquet files
    * (the file stream source tails directories) — same schema handling
    * as the batch path, consumed incrementally.
    */
  def readEventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val raw = spark.readStream.schema(schema).parquet(eventsDir)
    // same vintage dispatch as Tables.events: legacy INT64-nanos
    // fixtures truncate to µs with integer division; µs-NTZ fixtures
    // cast wall-clock to the session type (UTC everywhere here);
    // Spark-staged files already carry the session µs TIMESTAMP
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** The columns `format("kafka")` emits — the wire contract the
    * broker-free EventStreamSpec test builds a static frame against
    * (the sandbox has no broker; the schema is Spark's published Kafka
    * source output, stable across releases).
    */
  val kafkaWireSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("topic",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("partition",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("offset",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("timestampType",
        org.apache.spark.sql.types.IntegerType)))

  /** JSON payload carried in a Kafka record's value: `ts_us` is event
    * time in MICROSECONDS (the fixture's native resolution — Kafka's
    * own record timestamp is ingest time and is deliberately ignored;
    * event-time semantics must ride in the payload).
    */
  private val kafkaPayloadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts_us",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  /** Shape a Kafka-wire frame (see [[kafkaWireSchema]]) into the core
    * events columns: parse the JSON value, recover the µs event-time
    * timestamp. Output schema matches the five columns every downstream
    * plan ([[windowedAgg]], [[sessionize]], [[dedupEvents]],
    * [[streamTopKAmounts]]) selects from the file source, so the two
    * sources are drop-in interchangeable.
    */
  def shapeKafkaEvents(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), kafkaPayloadSchema).as("e"))
      .select(col("e.event_id").as("event_id"),
        timestamp_micros(col("e.ts_us")).as("ts"),
        col("e.user_id").as("user_id"),
        col("e.event_type").as("event_type"),
        col("e.value").as("value"))

  /** Config-switched streaming reader: `spark.graft.stream.format=kafka`
    * routes to the Kafka source (`spark.graft.stream.kafka.servers` /
    * `.topic`) through [[shapeKafkaEvents]]; anything else stays on the
    * file source. All declared streamed queries read through this, so a
    * production deployment points them at a topic with two configs and
    * zero code changes. The kafka leg's shaping select is contract-
    * tested broker-free (EventStreamSpec) on a static [[kafkaWireSchema]]
    * frame — the exact select this reader applies.
    */
  def readEventsStreamConfigured(spark: SparkSession, eventsDir: String): DataFrame =
    if (spark.conf.getOption("spark.graft.stream.format").contains("kafka")) {
      shapeKafkaEvents(spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers",
          spark.conf.get("spark.graft.stream.kafka.servers"))
        .option("subscribe", spark.conf.get("spark.graft.stream.kafka.topic"))
        .option("startingOffsets", "earliest")
        .load())
    } else readEventsStream(spark, eventsDir)

  /** Shape the built-in rate sources' (timestamp, value) rows into the
    * events schema, deterministically from the monotonic `value` alone
    * (never the wall clock) — so a rate stream and a `spark.range`
    * batch produce identical rows for parity testing.
    */
  def shapeSyntheticEvents(raw: DataFrame, startMs: Long): DataFrame =
    raw.select(
      col("value").as("event_id"),
      timestamp_micros(lit(startMs) * 1000L + col("value") * 1000000L).as("ts"),
      pmod(col("value"), lit(97L)).as("user_id"),
      element_at(
        typedLit(Seq("click", "view", "purchase", "error", "scroll")),
        (pmod(col("value"), lit(5L)) + 1).cast("int")).as("event_type"),
      (pmod(col("value") * 37L, lit(10000L)) / 100.0).as("value"))

  /** Synthetic unbounded source: the built-in `rate-micro-batch` stream
    * (deterministic rowsPerBatch, not wall-clock-paced) shaped into the
    * events schema — the zero-egress stand-in for a Kafka topic. Every
    * downstream plan ([[windowedAgg]], [[sessionize]], [[dedupEvents]])
    * consumes this or a file/Kafka source interchangeably; swapping in
    * Kafka is `format("kafka")` + the same shaping select over its
    * (timestamp, value) projection.
    */
  def readSyntheticEventsStream(spark: SparkSession, rowsPerBatch: Int = 1000,
      startMs: Long = 1700000000000L): DataFrame =
    shapeSyntheticEvents(
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rowsPerBatch)
        .option("startTimestamp", startMs)
        .load(),
      startMs)

  /** Stage the fixture plus one far-future SENTINEL event (user_id -1,
    * a user the fixture cannot contain) into a dedicated stream
    * directory: append-mode session windows only emit once the
    * watermark passes their end, and the watermark trails the maximum
    * observed event time — without an event beyond the last real one,
    * the final sessions of every user would sit in state forever and
    * never reach the sink. The sentinel drags the watermark a year past
    * the fixture; its own (never-closed) session is excluded by user_id.
    */
  private def stagedSessionsDir(spark: SparkSession, dir: String): String =
    graft.IndexCache.getOrBuild(spark, "events-stream-sessions-dir", dir) {
      stageWithSentinels(spark, dir, "graft-events-sess", farUs => Seq(
        (-1L, farUs, -1L, "click", 0.0, "{}")))
    }

  /** The declared STREAMING-EXECUTED sessionization (shares
    * `events_sessions_native`'s oracle): the fixture events plus the
    * watermark sentinel flow through the file stream source -> the SAME
    * native session_window aggregation the batch row uses
    * ([[sessionWindowAgg]]) -> an append-mode one-shot memory sink.
    * Sessions merge in keyed state and emit exactly once when the
    * watermark passes their end — so every row the driver hashes was
    * produced by the streaming engine's watermark-driven append-mode
    * state eviction.
    */
  def sessionsNativeStreamed(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedSessionsDir(spark, dir)
    // NOTE: the sentinel must be excluded AFTER the sink, not here — a
    // `user_id != -1` filter on the streaming frame is a grouping-key
    // predicate, so Catalyst pushes it below the aggregation AND the
    // watermark operator, and the watermark never sees the sentinel
    // (observed: the final ~90 min of real sessions never emit)
    OneShot.memorySink(spark, "sessions", "append", noData = true)(
      sessionWindowAgg(readEventsStreamConfigured(spark, staged), "30 minutes"))(
      // the sentinel's own session never closes (no event after it), so
      // it can't appear in the sink — the filter is belt-and-braces, and
      // safe here because the sink table is a BATCH relation
      _.filter(col("user_id") =!= -1L))
  }

  /** Accumulated per-user history for the streaming EWMA fold. */
  case class EwmaState(us: Seq[Long], ids: Seq[Long], cs: Seq[Long])

  /** One streaming-EWMA row (ewma emitted UNROUNDED; the declared
    * wrapper applies the same `round(_, 6)` the batch plan uses so the
    * rounding semantics — and so the shared oracle hash — match).
    */
  case class EwmaOut(user_id: Long, n: Long, ewma: Double)

  /** Per-user EWMA as keyed streaming state: rows accumulate per user
    * (order-insensitive buffering — micro-batch boundaries and
    * in-watermark disorder cannot change the result because the fold
    * runs ONCE, over the (us, event_id)-sorted history, when the
    * event-time timeout fires). State is the user's event history —
    * bounded per ENTITY, the honest cost of an order-sensitive fold
    * under out-of-order arrival (an O(1)-state variant exists only if
    * arrival order is trusted). The batch twin (and shared oracle) is
    * [[graft.operators.EventOps.ewma]].
    */
  def ewmaStream(events: Dataset[Ev], alpha: Double = 0.3): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    def micros(ts: Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    def update(uid: Long, rows: Iterator[Ev],
        state: GroupState[EwmaState]): Iterator[EwmaOut] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map { s =>
          val hist = s.us.lazyZip(s.ids).lazyZip(s.cs).toSeq
            .sortBy(t => (t._1, t._2)).map(_._3.toDouble)
          val e = hist.tail.foldLeft(hist.head)((acc, x) => acc + alpha * (x - acc))
          EwmaOut(uid, hist.length.toLong, e / 100.0)
        }.iterator
        state.remove()
        return out
      }
      val buf = rows.toSeq
      val prev = state.getOption.getOrElse(EwmaState(Nil, Nil, Nil))
      // HALF_UP (away from zero), the same rounding as ExactNum.cents —
      // math.round would round half toward +inf and diverge from the
      // batch twin on negative values landing exactly on a half cent
      val next = EwmaState(prev.us ++ buf.map(e => micros(e.ts)),
        prev.ids ++ buf.map(_.event_id),
        prev.cs ++ buf.map(e => BigDecimal(e.value * 100)
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong))
      state.update(next)
      // fold once the watermark passes one minute after the user's last
      // event (the sentinel drags it a year past the fixture)
      state.setTimeoutTimestamp(next.us.max / 1000L + 60000L)
      Iterator.empty
    }

    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** The declared STREAMING-EXECUTED per-user EWMA (shares
    * `events_ewma`'s oracle): fixture events + the watermark sentinel
    * flow through the file stream source into [[ewmaStream]]'s keyed
    * state; each user's history folds exactly once, when the
    * sentinel-driven watermark fires its event-time timeout, so the
    * state carries an order-sensitive fold.
    */
  def ewmaStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stagedSessionsDir(spark, dir)
    OneShot.memorySink(spark, "ewma", "append", noData = true)(
      ewmaStream(
        readEventsStreamConfigured(spark, staged)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[Ev]).toDF())(
      _.filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("n"), round(col("ewma"), 6).as("ewma")))
  }

  case class AttState(firstT: String, lastT: String, maxUs: Long,
    pus: Seq[Long], pids: Seq[Long], ptypes: Seq[String], pcs: Seq[Long])
  case class AttOut(user_id: Long, model: String, channel: String, c: Long)

  /** Keyed-state streaming ATTRIBUTION with BOUNDED state: the two
    * touch registers (first/last) are carried INCREMENTALLY and the
    * only buffered rows are the watermark-keyed REORDER BUFFER — the
    * pending events whose event time is still >= the current
    * watermark, i.e. events an out-of-order sibling could still
    * precede. Each batch merges new rows into the buffer, then drains
    * every event STRICTLY BELOW the watermark in (ts, event_id) order
    * through the registers (safe: any future arrival has ts >= the
    * watermark, so the drained prefix's order is final), emitting
    * purchase credit rows as they settle. State is O(watermark
    * horizon) per key, not O(history) — the previous full-replay form
    * concatenated each user's entire history across micro-batches
    * (O(n²) copying, unbounded memory; r6 advice item). Same strict
    * order, same cents rounding, so the output row set is exactly the
    * batch [[graft.operators.EventOps.attribution]] walk.
    */
  def attributionStream(events: Dataset[Ev]): Dataset[AttOut] = {
    import events.sparkSession.implicits._
    def micros(ts: Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    // drain every pending event with us < upToUs (None = all) through
    // the registers in (us, id) order; returns the advanced state and
    // the credit rows the drained purchases produced
    def drain(uid: Long, s: AttState, upToUs: Option[Long])
        : (AttState, Seq[AttOut]) = {
      val all = s.pus.lazyZip(s.pids).lazyZip(s.ptypes).lazyZip(s.pcs)
        .toSeq.sortBy(t => (t._1, t._2))
      val (safe, rest) = upToUs match {
        case Some(w) => all.partition(_._1 < w)
        case None => (all, Seq.empty)
      }
      var firstT = s.firstT; var lastT = s.lastT
      val buf = scala.collection.mutable.ArrayBuffer.empty[AttOut]
      safe.foreach { case (_, _, tpe, c) =>
        if (tpe == "purchase") {
          buf += AttOut(uid, "first_touch", firstT, c)
          buf += AttOut(uid, "last_touch", lastT, c)
        }
        if (tpe == "click" || tpe == "view") {
          if (firstT == "none") firstT = tpe
          lastT = tpe
        }
      }
      (AttState(firstT, lastT, s.maxUs, rest.map(_._1), rest.map(_._2),
        rest.map(_._3), rest.map(_._4)), buf.toSeq)
    }

    def update(uid: Long, rows: Iterator[Ev],
        state: GroupState[AttState]): Iterator[AttOut] = {
      if (state.hasTimedOut) {
        val out = state.getOption
          .map(s => drain(uid, s, None)._2).getOrElse(Seq.empty)
        state.remove()
        return out.iterator
      }
      val buf = rows.toSeq
      val prev = state.getOption
        .getOrElse(AttState("none", "none", 0L, Nil, Nil, Nil, Nil))
      val newUs = buf.map(e => micros(e.ts))
      val merged = AttState(prev.firstT, prev.lastT,
        (prev.maxUs +: newUs).max,
        prev.pus ++ newUs,
        prev.pids ++ buf.map(_.event_id),
        prev.ptypes ++ buf.map(_.event_type),
        prev.pcs ++ buf.map(e => BigDecimal(e.value * 100)
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong))
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (next, out) = drain(uid, merged, Some(wmUs))
      state.update(next)
      state.setTimeoutTimestamp(next.maxUs / 1000L + 60000L)
      out.iterator
    }

    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** The declared STREAMING-EXECUTED attribution (shares
    * `events_attribution`'s oracle): fixture events + the watermark
    * sentinel flow through the file stream source into
    * [[attributionStream]]'s keyed state; each user's credit rows are
    * produced BY the streaming engine at state eviction, and only the
    * tiny cross-user (model, channel) rollup runs on the sink output —
    * the same split as the sessionization rows (per-user semantics in
    * the stream, final shaping in batch).
    */
  def attributionStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stagedSessionsDir(spark, dir)
    OneShot.memorySink(spark, "attribution", "append", noData = true)(
      attributionStream(
        readEventsStreamConfigured(spark, staged)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[Ev]).toDF())(
      _.filter(col("user_id") =!= -1L)
        .groupBy(col("model"), col("channel"))
        .agg(count(lit(1)).as("n_conversions"),
          sum(col("c")).as("revenue_cents")))
  }

  /** Watermarked streaming sessionization via the NATIVE session_window
    * aggregate (the declarative sibling of [[sessionize]]'s keyed-state
    * form): sessions merge inside the aggregation and close — emit in
    * append mode — once the watermark passes their end. Same output
    * shape as the batch [[graft.operators.EventOps.sessionsNative]].
    */
  def sessionWindowAgg(stream: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    stream.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(unix_micros(min(col("ts"))).as("session_start_us"),
        count(lit(1)).as("n_events"),
        (sum(graft.functions.ExactNum.cents(col("value"))) / 100.0).as("sum_value"))
      .select("user_id", "session_start_us", "n_events", "sum_value")

  /** Micro-batch lakehouse sink: each batch keyed-upserts into a parquet
    * target (stream -> foreachBatch -> MERGE — the standard CDC/ingest
    * pattern when the sink is a table, not an append log). Within a
    * batch, re-deliveries of one key collapse to the struct-max row
    * (latest by the remaining columns' order) BEFORE the merge, honoring
    * upsert's one-update-row-per-key contract; the rewritten table swaps
    * in via the crash-safe rename-aside protocol. Exactly-once comes
    * from the checkpoint: a replayed batch re-merges the same rows onto
    * keys it already wrote — idempotent.
    */
  def upsertSink(stream: DataFrame, targetPath: String, key: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val others = batch.columns.filter(_ != key)
        val latest = batch.groupBy(col(key))
          .agg(max(struct(others.map(col): _*)).as("__s"))
          .select(col(key) +: others.map(c => col(s"__s.$c").as(c)): _*)
          .select(batch.columns.map(col): _*)
        val fs = new org.apache.hadoop.fs.Path(targetPath)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val merged =
          if (fs.exists(new org.apache.hadoop.fs.Path(targetPath)))
            graft.sources.Ingest.upsert(
              spark.read.parquet(targetPath), latest, key)
          else latest
        val tmp = targetPath.stripSuffix("/") + ".upsert.tmp"
        merged.write.mode("overwrite").parquet(tmp)
        graft.sources.Ingest.swapInPlace(spark, targetPath, tmp)
        ()
      }
      .start()
}
