package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Events-side scale proof (completing the [[ScaleSpec]] /
  * [[DocumentsScaleSpec]] trio): generate a deterministic synthetic
  * event stream at 1x and 10x the sf0.1 event count — same (event_id,
  * ts, user_id, event_type, value, props) schema over the same 30-day
  * window, so every `dir`-keyed event entry point runs unchanged —
  * and pin the ROLLUP-FIRST property the whole event family's 100 TB
  * story rests on: outputs whose size is a function of the CALENDAR
  * (days, types, windows), not the event count, must not grow when
  * events grow 10x; per-entity outputs must grow with entities, not
  * with per-entity event multiplicity.
  *
  * Wall-clock is deliberately not asserted (CI noise) — the asserts
  * are output cardinalities and value sanity.
  */
class EventsScaleSpec extends SparkSpec {

  /** Deterministic synthetic stream: id-seeded RNG (partition-
    * independent), ~200 events per user, 5 weighted types, timestamps
    * uniform over 30 days, heavy-tailed values.
    */
  private def generate(spark: SparkSession, n: Int, seed: Long = 23L): String = {
    import spark.implicits._
    val dir = graft.streaming.OneShot.tempDir(s"graft-evscale-$n")
    val users = math.max(n / 200, 1)
    spark.range(n).as[Long].mapPartitions { it =>
      val types = Array("view", "view", "view", "click", "click",
        "purchase", "signup", "error")
      it.map { id =>
        val r = new java.util.Random(seed ^ (id * 0x9E3779B97F4A7CL))
        val ts = new Timestamp(1700000000000L +
          (r.nextDouble() * 30L * 86400000L).toLong)
        val tpe = types(r.nextInt(types.length))
        val value = math.floor(r.nextDouble() * r.nextDouble() * 10000) / 100.0
        (id, ts, (id % users), tpe, value, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private lazy val dir1x = generate(spark, 60000)   // sf0.1's event count
  private lazy val dir10x = generate(spark, 600000) // 10x that

  test("calendar-sized outputs do not grow with event volume at 10x") {
    // daily-rollup consumers: output = f(days, types), NOT f(events)
    val ts1 = graft.operators.EventOps.theilSenTrend(spark, dir1x)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ts10 = graft.operators.EventOps.theilSenTrend(spark, dir10x)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(ts1.nonEmpty && ts1.length == ts10.length,
      s"trend rows grew: ${ts1.length} -> ${ts10.length}")
    // same days => same pair counts, 10x the events notwithstanding
    assert(ts1.map(t => (t._1, t._2, t._3)).toSet ==
      ts10.map(t => (t._1, t._2, t._3)).toSet,
      "days/pairs changed with event volume")
    val hw1 = graft.operators.EventOps.holtWintersForecast(spark, dir1x).count()
    val hw10 = graft.operators.EventOps.holtWintersForecast(spark, dir10x).count()
    assert(hw1 == hw10, s"holt-winters rows grew: $hw1 -> $hw10")
    val sd10 = graft.operators.EventOps.seasonalDecompose(spark, dir10x)
    assert(sd10.count() == graft.operators.EventOps
      .seasonalDecompose(spark, dir1x).count(),
      "seasonal slots grew with event volume")
  }

  test("per-entity outputs scale with entities, not event multiplicity") {
    // attribution: rows bounded by models x channels regardless of n
    val att10 = graft.operators.EventOps.attribution(spark, dir10x)
      .collect()
    assert(att10.length <= 2 * 4, s"attribution rows: ${att10.length}")
    val total = att10.filter(_.getString(0) == "first_touch")
      .map(_.getLong(3)).sum
    assert(total > 0L)
    // kaplan-meier: rows bounded by distinct lifetimes (<= days)
    val km10 = graft.operators.EventOps.kaplanMeier(spark, dir10x).count()
    assert(km10 <= 31L, s"KM rows: $km10")
    // anomaly detection must not flood when volume grows: flagged
    // fraction stays a tail, not a constant share of everything
    val n10 = 600000.0
    val flagged = graft.operators.EventOps.anomalyMad(spark, dir10x).count()
    assert(flagged / n10 < 0.10, s"MAD flagged ${flagged / n10} of events")
  }
}
