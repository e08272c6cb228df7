package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.streaming.{EventStream, OneShot}

/** The one-shot runner's contracts: a run, successful or not, leaves
  * the session conf, the catalog and the active streams as it found
  * them; fixture staging registers exactly the directories it created
  * for exit cleanup, never a dataset directory it tails in place.
  */
class OneShotSpec extends SparkSpec {

  private val pKey = "spark.sql.shuffle.partitions"
  private val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet

  /** Run `f` under session values the runner overrides (width 7, no-data
    * batches on), then check that both values, the temp views and the
    * active streams are what they were before `f`.
    */
  private def assertLeavesSessionAsFound(f: => Unit): Unit = {
    val (prevP, prevNd) = (spark.conf.get(pKey), spark.conf.get(ndKey))
    spark.conf.set(pKey, "7")
    spark.conf.set(ndKey, "true")
    try {
      val views = tempViews
      f
      assert(spark.conf.get(pKey) == "7", "shuffle width not restored")
      assert(spark.conf.get(ndKey) == "true", "no-data flag not restored")
      assert(tempViews == views, "memory-sink view left in the catalog")
      assert(spark.streams.active.isEmpty, "a streaming query outlived the run")
    } finally {
      spark.conf.set(pKey, prevP)
      spark.conf.set(ndKey, prevNd)
    }
  }

  private def eventsDir(): Path = {
    val d = Files.createTempDirectory("graft-oneshot-src")
    Files.copy(Paths.get(s"$sf0001/events.parquet"), d.resolve("events.parquet"))
    d
  }

  private def rmTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { Files.deleteIfExists(f); () })
    finally s.close()
  }

  test("a successful memory-sink run pins width and no-data flag while " +
      "it runs, then restores them and drops its sink view") {
    val src = eventsDir()
    try {
      var during = ("", "")
      assertLeavesSessionAsFound {
        val got = OneShot.memorySink(spark, "oneshot_ok", "complete",
            noData = false) {
          during = (spark.conf.get(pKey), spark.conf.get(ndKey))
          EventStream.readEventsStream(spark, src.toString)
            .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        }(_.orderBy(col("event_type"))).collect().toSeq
        val want = Tables.events(spark, sf0001)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
          .orderBy(col("event_type")).collect().toSeq
        assert(got == want)
        assert(OneShot.lastCompleteStateRows.get("oneshot_ok") == want.size,
          "state-store rows of the run not recorded under its tag")
      }
      assert(during == (("4", "false")))
    } finally rmTree(src)
  }

  test("a failing memory-sink run restores the session and leaves no " +
      "sink view or active stream behind") {
    val src = eventsDir()
    val boom = udf { (x: Long) =>
      if (x >= 0L) throw new IllegalStateException("oneshot-boom")
      x
    }
    try {
      // the plan fails inside a micro-batch, after the sink started
      assertLeavesSessionAsFound {
        intercept[Exception] {
          OneShot.memorySink(spark, "oneshot_fail", "append", noData = false)(
            EventStream.readEventsStream(spark, src.toString)
              .select(boom(col("event_id")).as("x")))(identity)
        }
      }
      // the plan fails while it is being built, before any start
      assertLeavesSessionAsFound {
        intercept[IllegalStateException] {
          OneShot.memorySink(spark, "oneshot_plan", "append", noData = false)(
            throw new IllegalStateException("oneshot-plan"))(identity)
        }
      }
    } finally rmTree(src)
  }

  test("fixture staging registers the directories it creates for exit " +
      "cleanup, and never a dataset directory it tails in place") {
    def registered(p: String): Boolean =
      OneShot.exitCleanup.asScala.exists(r => Paths.get(p).startsWith(r))
    val fileDs = eventsDir()
    val dirDs = Files.createTempDirectory("graft-oneshot-dirds")
    try {
      // events.parquet as a file: copied into a fresh, registered dir
      val once = OneShot.stageFixture(spark, fileDs.toString, "events.parquet")
      assert(!Paths.get(once).startsWith(fileDs))
      assert(Files.isRegularFile(Paths.get(once, "events.parquet")))
      assert(registered(once), s"staged dir $once not registered")
      val twice = OneShot.stageFixture(spark, fileDs.toString,
        "events.parquet", twice = true)
      assert(twice != once)
      assert(Paths.get(twice).toFile.list().length == 2)
      assert(registered(twice), s"staged dup dir $twice not registered")
      // memoized per dataset: a second call stages nothing new
      assert(OneShot.stageFixture(spark, fileDs.toString, "events.parquet")
        == once)

      // events.parquet as a directory: tailed in place, never registered
      val inPlace = dirDs.resolve("events.parquet")
      Files.createDirectory(inPlace)
      Files.copy(Paths.get(s"$sf0001/events.parquet"),
        inPlace.resolve("part-0.parquet"))
      val got = OneShot.stageFixture(spark, dirDs.toString, "events.parquet")
      assert(got == inPlace.toString)
      assert(!registered(got),
        "a dataset directory was registered for deletion at JVM exit")
    } finally {
      rmTree(fileDs)
      rmTree(dirDs)
    }
  }
}
