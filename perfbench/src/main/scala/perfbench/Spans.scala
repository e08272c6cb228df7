package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One call into a layer, as the benchmark saw it from outside. */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long,
    wallNs: Long)

/** What the listener attributed to one span. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var schedMs = 0L
  var shuffleBytes = 0L
  var gcMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes jobs, stages and tasks to the span whose id the benchmark
  * set as a local property around a layer call. Spark copies local
  * properties into every job the call submits, including the ones
  * adaptive execution and broadcast builds submit from other threads.
  * Everything stays in memory until the run reports.
  */
final class SpanRecorder extends SparkListener {
  private val counters = mutable.HashMap.empty[Long, SpanCounters]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    prop.foreach { s =>
      val id = s.toLong
      counters.getOrElseUpdate(id, new SpanCounters).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
      jobSpan(e.jobId) = (id, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, t0) =>
      counters(id).jobIntervals += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters.getOrElseUpdate(id, new SpanCounters)
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      // the scheduler delay as Spark's UI computes it, plus deserialize
      // time: together the launch tax of a task
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.schedMs += delay + m.executorDeserializeTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.gcMs += m.jvmGCTime
    }
  }

  def get(id: Long): Option[SpanCounters] = synchronized(counters.get(id))
}

/** Wraps each layer call in a named span. The span id and name ride on
  * the calling thread as a local property and the job description in
  * both modes; only a traced run attaches the listener, so the two
  * modes differ by the listener alone.
  */
final class Tracer(spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  private val recorder =
    if (traced) { val r = new SpanRecorder; sc.addSparkListener(r); Some(r) }
    else None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0L
  /** Spans count only while recording: warm-up calls are left out. */
  var recording = false

  def apply[T](name: String)(body: => T): T = {
    next += 1
    val id = next
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    sc.setJobDescription(name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      sc.setLocalProperty(Tracer.SpanKey, null)
      sc.setJobDescription(null)
      if (recording) spans += Span(id, name, startMs, System.currentTimeMillis(), ns)
    }
  }

  /** One record per recorded call: the span's name and its stats. */
  def report(): Seq[(String, Seq[(String, Double)])] = recorder match {
    case None => Seq.empty
    case Some(r) =>
      org.apache.spark.PerfbenchBus.drain(sc)
      spans.toSeq.map { s =>
        val c = r.get(s.id).getOrElse(new SpanCounters)
        val wall = s.wallNs / 1e9
        s.name -> Seq(
          "wall_s" -> wall,
          "driver_s" -> math.max(0.0, wall - covered(c.jobIntervals.toSeq, s) / 1e3),
          "jobs" -> c.jobs.toDouble,
          "tasks" -> c.tasks.toDouble,
          "task_cpu_s" -> c.cpuNs / 1e9,
          "sched_delay_s" -> c.schedMs / 1e3,
          "shuffle_mb" -> c.shuffleBytes / 1e6,
          "gc_s" -> c.gcMs / 1e3)
      }
  }

  /** Milliseconds of the span that at least one of its jobs covered. */
  private def covered(jobs: Seq[(Long, Long)], s: Span): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((a0, b0) <- jobs.sortBy(_._1)) {
      val a = math.max(math.max(a0, s.startMs), end)
      val b = math.min(b0, s.endMs)
      if (b > a) total += b - a
      end = math.max(end, b)
    }
    total
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
