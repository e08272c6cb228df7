package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Execution instrumentation (SURVEY.md §2.13): run an action and
  * report the aggregate task metrics of the jobs it triggered —
  * shuffle records/bytes written, input records, job count — via a
  * SparkListener. This is how the plan-shape claims get NUMBERS: e.g.
  * the two-phase bounded-heap top-k provably shuffles a candidate set,
  * not the fact table (QueryMetricsSpec).
  *
  * Listener delivery is asynchronous; [[measure]] waits for job-end
  * events to balance job-starts and for the counters to quiesce, then
  * detaches the listener.
  */
object QueryMetrics {

  case class Metrics(shuffleRecordsWritten: Long, shuffleBytesWritten: Long,
      inputRecords: Long, tasks: Long, jobs: Long)

  def measure(spark: SparkSession)(action: => Unit): Metrics = {
    val shRecs = new AtomicLong
    val shBytes = new AtomicLong
    val inRecs = new AtomicLong
    val tasks = new AtomicLong
    val jobsStarted = new AtomicLong
    val jobsEnded = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobsStarted.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobsEnded.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          tasks.incrementAndGet()
          shRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          inRecs.addAndGet(m.inputMetrics.recordsRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // quiesce: all started jobs ended AND counters stable for 200ms
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1L
      var stable = false
      while (!stable && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val snap = shRecs.get + inRecs.get + tasks.get
        stable = jobsEnded.get >= jobsStarted.get && snap == last
        last = snap
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    Metrics(shRecs.get, shBytes.get, inRecs.get, tasks.get, jobsStarted.get)
  }
}
